"""Deduplication operators for large-scale document pipelines.

Four families, each a first-class engine operator (SURVEY §7.1 M6):

  - exact:      hash-groupBy on normalized text (one shuffle on the hash)
  - n-gram Jaccard: exact pairwise similarity restricted to pairs sharing
                a shingle (inverted-index self-join)
  - MinHash+LSH: shingle -> 12 portable minhashes -> 4 bands x 3 rows ->
                band-bucket self-join -> exact-Jaccard verification of the
                candidates only
  - SimHash:    60-bit fingerprint; candidate pairs via 4x15-bit band
                buckets, which by pigeonhole is EXACT for hamming <= 3
                (a pair differing in <= 3 bits must agree on >= 1 of 4
                disjoint bands), then verified with bit_count(xor).

Scale notes:
  - All joins key on shingle/band/bucket values - shuffle joins whose key
    cardinality grows with corpus size, so no broadcast is assumed.
  - Candidate generation for exact Jaccard uses PREFIX FILTERING (Bayardo,
    Ma & Srikant, "Scaling Up All Pairs Similarity Search", WWW'07; Xiao et
    al. PPJoin): order each document's shingles by ascending global document
    frequency and index only the first floor((1-t)*|d|)+1 of them - any pair
    with Jaccard >= t provably shares a prefix shingle, so recall is EXACT
    while the inverted index shrinks ~5x and, crucially, ultra-frequent
    (stopword) shingles sort LAST per document and never enter the index at
    all - the 100 TB skew hazard of a naive inverted-index self-join is
    removed structurally, not heuristically. A size filter
    (min(|a|,|b|) >= t*max(|a|,|b|), also exact) prunes further.
  - ``max_shingle_df`` additionally caps document frequency in CANDIDATE
    GENERATION only (verification always uses all shingles, so similarity
    values stay exact for every surviving candidate). Default None = off =
    exact results; set it as a belt-and-braces skew defense on adversarial
    corpora where even prefix entries collide heavily.
  - Verification is candidate-proportional: per-doc shingle arrays are built
    only for documents that appear in candidate pairs, then intersected
    pairwise (array_intersect, JVM codegen) - cost O(|candidates| * |doc|),
    never corpus-quadratic.
  - Everything is built-in expressions (md5/conv/bit ops/higher-order
    functions); no Python executes per-row.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import artifacts
from ..functions.texthash import (
    hashed_word_kgrams,
    md5_int60,
    word_bigrams,
    word_kgrams,
    words,
)

NUM_PERM = 12
BANDS = 4
ROWS_PER_BAND = NUM_PERM // BANDS
#: Minhash "permutations" are affine maps over Z_p, p = 2^31 - 1 (Mersenne):
#: pi_k(h) = (A_k * (h mod p) + B_k) mod p  applied to the document's 60-bit
#: shingle hashes. Products stay < 2^62, so every step is exact int64
#: arithmetic that any SQL engine reproduces bit-for-bit (the DuckDB oracle
#: shares these literal constants via plans/extensions_oracle.py). Replaces
#: 12 salted md5-of-string hashes per shingle with 1 md5 + 12 integer maps.
#:
#: The coefficients come from a fixed 64-bit LCG (Knuth MMIX constants), NOT
#: a closed form in k: affine maps whose A_k are linearly related (e.g.
#: A_k = c*(k+1)) nearly preserve each other's value ORDER mod p, so the
#: per-document argmin coincides across "permutations" and LSH candidate
#: counts explode (measured: 105k candidate pairs on 5k docs vs ~300 with
#: independent coefficients). Pairwise-independent a,b need genuine
#: pseudo-randomness.
MINHASH_P = 2_147_483_647


def _minhash_ab(n: int) -> list[tuple[int, int]]:
    x, out = 0x9E3779B97F4A7C15, []
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (x >> 33) % (MINHASH_P - 1) + 1  # a != 0
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = (x >> 33) % MINHASH_P
        out.append((a, b))
    return out


MINHASH_AB = _minhash_ab(NUM_PERM)
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups on normalized (lower-cased) text.

    Returns one row per distinct content: (keep_id = min id, n_dups).
    """
    return (
        df.groupBy(F.md5(F.lower(F.col(text_col))).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .drop("content_hash")
    )


# NOTE on reuse: the dedup pipelines reference the shingle set several times
# (document frequencies, prefix ranking, signatures, verification arrays) and
# Spark recomputes common subtrees per reference - measured at 4x for the
# prefix/verify self-joins, which dominated the round-1 runtime. The fix is
# ``doc_shingle_arrays``: ONE corpus-linear pass builds a per-document sorted
# hash array (one row per doc), materialized with localCheckpoint so every
# downstream reference (prefix explode, both verify sides) reads blocks
# instead of re-running the explode chain. This is exactly the "materialized
# intermediate dataset" a warehouse pipeline would persist between stages;
# at 100 TB it is corpus-LINEAR (|docs| rows of ~|doc| int64s) and spreads
# across executor block stores. Plain .persist() was measured and REJECTED:
# InMemoryRelation hides runtime statistics from AQE, turning the small
# dimension-side joins into 32-partition sort-merge joins (net 2.5x slower);
# checkpointed RDD scans keep AQE's runtime shuffle statistics intact.


def _memoized_checkpoint(kind: str, plan: DataFrame) -> DataFrame:
    """localCheckpoint ``plan`` once per session per semantic plan, as a
    ``kind`` entry of the session-artifact registry.

    Session-scoped memo of materialized intermediates keyed by the SEMANTIC
    hash of the (un-checkpointed) plan: the bench/server session runs
    several dedup families (ngram, minhash, clusters) over the same corpus
    and each needs the same corpus-linear shingle materialization - without
    the memo every query rebuilds it (measured 7.8 s of a 10.3 s minhash
    run at sf0.1). A hash hit is served only if the stored origin plan
    also passes ``sameSemantics``; a 32-bit hash collision checkpoints
    unshared instead. Caveat (documented contract): the key is the logical
    plan, so overwriting the underlying files at the same path within one
    session returns stale blocks - call ``cache.artifacts.clear()`` after
    rewriting a corpus in place."""
    origin, res = artifacts.get_or_build(
        plan.sparkSession,
        kind,
        plan.semanticHash(),
        lambda: (plan, plan.localCheckpoint()),
    )
    if origin is plan or plan.sameSemantics(origin):
        return res
    return plan.localCheckpoint()


def doc_shingle_arrays(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, arr, n): per-document shingle-hash array sorted by ascending
    (global document frequency, hash), materialized once per session.

    ``arr`` is array<struct<df,h>> - 60-bit md5 hashes (collisions
    negligible at any corpus size, and ~8x cheaper to shuffle/intersect
    than strings), ordered rarest-first, which IS the AllPairs prefix
    order; ``n`` = |shingle set|. Hashing happens BEFORE the distinct so
    every exchange in the chain moves int64s, never bigram strings. The
    result is localCheckpoint-ed: one row per document, so the
    materialization is corpus-linear and every downstream self-join side
    (and every dedup family in the same session, via the semantic-hash
    memo) reads it for free instead of re-running the explode chain.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)
    # per-document distinct is ROW-LOCAL (array_distinct over the hashed
    # shingle array) - the round-1 explode-then-DISTINCT shuffled the whole
    # exploded corpus once before any aggregation; this plan's only
    # exchanges are the document-frequency groupBy and the array rebuild
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(
                F.transform(
                    word_bigrams(words(F.col(text_col))), lambda s: md5_int60(s)
                )
            )
        ).alias("h"),
    )
    dfreq = hashed.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    docs = (
        hashed.join(dfreq, "h")
        .groupBy("id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "h"))).alias("arr"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return _memoized_checkpoint("shingle_idx", docs)


#: Slack for float threshold comparisons in EXACT filters: double rounding
#: may only ever OVER-include candidates (harmless), never drop a true pair.
_EPS = 1e-9


def _verify_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard for the given candidate pairs only.

    ``docs`` is the materialized ``doc_shingle_arrays`` table; each pair is
    one ``array_intersect`` over the pre-built int64 hash arrays - all JVM
    codegen, cost O(|candidates| * |doc|), never corpus-quadratic. Both
    join sides read the checkpointed blocks, so verification adds zero
    re-computation of the shingle chain.
    """
    a = docs.select(
        F.col("id").alias("id_a"),
        F.transform("arr", lambda x: x["h"]).alias("ha"),
        F.col("n").alias("na"),
    )
    b = docs.select(
        F.col("id").alias("id_b"),
        F.transform("arr", lambda x: x["h"]).alias("hb"),
        F.col("n").alias("nb"),
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ha", "hb")).alias("c"),
            "na",
            "nb",
        )
        .select(
            "id_a",
            "id_b",
            # ROUND(jaccard, 6) BEFORE the caller's >= threshold is the
            # deliberate cross-engine discipline (the oracles round the
            # same way before the same comparison, so both engines admit
            # the identical boundary pairs); a raw-value threshold would
            # re-open the float-ordering parity hole ROUND exists to
            # close. Consequence: a pair within 5e-7 of the threshold
            # rounds onto it - in BOTH engines.
            F.round(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 6).alias("jaccard"),
        )
    )


def prefix_candidates(
    docs: DataFrame, min_jaccard: float, max_shingle_df: int | None = None
) -> DataFrame:
    """Candidate pairs for exact Jaccard >= t by prefix + positional
    filtering (AllPairs, WWW'07; PPJoin, WWW'08) over the materialized
    ``doc_shingle_arrays`` table.

    Exact-recall filters, all provable over-approximations:
      - prefix: each document indexes only its floor((1-t)*|d|)+1
        globally-rarest shingles (``arr`` is already in rarity order, so
        the prefix is just ``slice``); a pair with Jaccard >= t MUST share
        one (pigeonhole on the overlap bound).
      - size: min(|a|,|b|) >= t*max(|a|,|b|)  (Jaccard <= min/max).
      - positional: a pair with J >= t needs overlap
        o >= t*(|a|+|b|)/(1+t); for the pair's FIRST shared token (ranks
        ra, rb in the rarity order) total overlap <= 1 + min(|a|-ra,|b|-rb),
        so that token's match must satisfy the bound - pairs whose every
        shared prefix token fails it cannot reach t.
    The join keys on the 60-bit shingle hash, not the string; ultra-frequent
    (stopword) shingles sort LAST per document and never enter the index.
    ``max_shingle_df`` optionally drops ultra-frequent shingles from the
    index (approximate; default off - prefix ordering already keeps
    stopword shingles out of the index structurally).
    """
    t = float(min_jaccard)
    plen = (F.floor((1.0 - t) * F.col("n") + _EPS) + F.lit(1)).cast("int")
    prefix = docs.select(
        "id", "n", F.posexplode(F.slice("arr", F.lit(1), plen)).alias("pos", "e")
    ).select("id", "n", (F.col("pos") + 1).alias("r"), F.col("e.h").alias("h"), F.col("e.df").alias("df"))
    if max_shingle_df is not None:
        prefix = prefix.where(F.col("df") <= max_shingle_df)
    a = prefix.select(F.col("id").alias("id_a"), "h", F.col("n").alias("na"), F.col("r").alias("ra"))
    b = prefix.select(F.col("id").alias("id_b"), "h", F.col("n").alias("nb"), F.col("r").alias("rb"))
    need = t / (1.0 + t) * (F.col("na") + F.col("nb")) - _EPS
    return (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.least("na", "nb") >= t * F.greatest("na", "nb") - _EPS)
        .where(F.lit(1) + F.least(F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")) >= need)
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    min_jaccard: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact word-bigram Jaccard >= threshold.

    Prefix-filtered candidate generation (exact recall) + candidate-
    proportional verification; results are identical to the naive all-pairs
    inverted-index formulation (the DuckDB oracle keeps that naive form, so
    parity checks the algorithm, not a transliteration).
    """
    docs = doc_shingle_arrays(df, id_col, text_col)
    cands = prefix_candidates(docs, min_jaccard, max_shingle_df)
    pairs = _verify_pairs(docs, cands).where(F.col("jaccard") >= min_jaccard)
    # |pairs| ~ |true near-dups| - tiny; memoized so the pair query and the
    # cluster query share one prefix-join + verification per session
    return _memoized_checkpoint("pair_table", pairs)


def minhash_signatures(
    docs: DataFrame, max_shingle_df: int | None = None
) -> DataFrame:
    """Per-document minhash signature columns s0..s{k-1} from the
    materialized ``doc_shingle_arrays`` table.

    Each signature column is ``array_min(transform(arr, affine map))`` - a
    pure per-row projection over the checkpointed arrays, so the whole
    signature stage adds ZERO shuffles and zero re-tokenization (the
    round-1 form re-ran the tokenize/explode chain and 12 string md5s per
    shingle row; this is 1 md5 per shingle, paid once in
    ``doc_shingle_arrays``). ``max_shingle_df`` drops ultra-frequent
    shingles from signatures (candidate generation) without touching the
    verification arrays.

    Documents with NO retained shingles (shorter than the shingle width,
    or fully df-capped boilerplate) are DROPPED from the signature frame
    (r18): array_min over the empty array is NULL, concat_ws skips
    NULLs, and every such doc would otherwise share band value "" in
    every band - one all-colliding bucket whose self-join is quadratic
    in the boilerplate population, exactly the skew blowup
    ``max_shingle_df`` exists to prevent. A doc with no retained
    shingles has no candidate-generation evidence by definition, and
    the SQL oracles' signature equi-joins never matched NULL signatures
    anyway (SQL NULL semantics), so dropped rows change no values.
    """
    arr = F.col("arr")
    if max_shingle_df is not None:
        arr = F.filter(arr, lambda x: x["df"] <= F.lit(max_shingle_df))
    h31 = lambda x: x["h"] % F.lit(MINHASH_P)  # noqa: E731
    sig_cols = [
        F.array_min(
            F.transform(arr, lambda x: (F.lit(a) * h31(x) + F.lit(b)) % F.lit(MINHASH_P))
        ).alias(f"s{k}")
        for k, (a, b) in enumerate(MINHASH_AB)
    ]
    return docs.select("id", *sig_cols).where(F.col("s0").isNotNull())


def minhash_geometry_for(threshold: float, n_perms: int = NUM_PERM) -> tuple[int, int]:
    """(bands, rows_per_band) for a target Jaccard threshold within the
    ``n_perms`` permutation budget - the S-curve rule t ~ (1/b)^(1/r)
    (Leskovec/Rajaraman/Ullman, MMDS 3.4.3): the text-MinHash analogue
    of the embedding side's ``lsh_geometry_for`` (VERDICT r18 #6 - the
    same "constant that should be a function of the threshold" smell
    the r17 finding cured for sign-LSH bands). A pair with Jaccard s
    becomes a candidate with probability 1 - (1 - s^r)^b, an S-curve
    whose inflection sits near (1/b)^(1/r); the factorization whose
    inflection lands nearest the threshold balances false-positive
    candidates (inflection far below t) against false negatives
    (far above t).

    Exhaustive over the exact factorizations b*r = n_perms - a handful
    of integer candidates, bit-reproducible by any engine, no float
    search. Exact-distance ties break toward MORE bands (the lower
    inflection can only ADD candidates, never drop a true pair - the
    recall-favoring side, which is what dedup wants). Unlike sign-LSH
    bands, hash-valued MinHash bands don't random-collide by the
    2^-bits law, so there is no corpus-size term here - the threshold
    alone fixes the geometry.

    At the repo's NUM_PERM=12 budget the rule gives 6x2 for t=0.5,
    3x4 for t=0.7, 2x6 for t=0.9; the declared battery queries keep
    pinning the historical 4x3 geometry (inflection ~0.63) explicitly -
    their SQL oracles encode that banding - and dedup_compare's
    measured recall documents that 4x3 already recalls every >= 0.5
    fixture pair the exact prefix-filter finds, so the rule exists for
    NEW thresholds/corpora, exactly as lsh_geometry_for serves new
    embedding corpora."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if n_perms < 1:
        raise ValueError(f"n_perms must be >= 1, got {n_perms}")
    best = None
    for r in range(1, n_perms + 1):
        if n_perms % r:
            continue
        b = n_perms // r
        inflection = (1.0 / b) ** (1.0 / r)
        key = (abs(inflection - threshold), -b)
        if best is None or key < best[0]:
            best = (key, (b, r))
    return best[1]


def lsh_candidates(
    sigs: DataFrame, bands: int = BANDS, rows_per_band: int = ROWS_PER_BAND
) -> DataFrame:
    """Candidate pairs: documents agreeing on all rows of >= 1 band.

    One self-join on the (band index, band value) key - the band index is
    part of the key, so a single shuffle covers all bands (vs a join per
    band + union: ``bands``x the stages for identical output).
    """
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",", *[F.col(f"s{b * rows_per_band + r}") for r in range(rows_per_band)]
                        ).alias("bv"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bv").alias("bv"))
    a = banded.select(F.col("id").alias("id_a"), "band", "bv")
    b = banded.select(F.col("id").alias("id_b"), "band", "bv")
    return (
        a.join(b, ["band", "bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    min_jaccard: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pipeline: signatures -> band buckets -> exact
    verification of candidates only. Output: (id_a, id_b, jaccard).

    ``max_shingle_df`` drops ultra-frequent shingles from signature/candidate
    computation only (approximate; default off); verification always uses the
    full shingle sets, so reported Jaccard values are exact either way.

    One corpus pass: signatures AND verification both read the single
    checkpointed ``doc_shingle_arrays`` materialization; the only shuffles
    in the whole pipeline are the array build and the band-bucket join.
    """
    docs = doc_shingle_arrays(df, id_col, text_col)
    cands = lsh_candidates(minhash_signatures(docs, max_shingle_df))
    return _verify_pairs(docs, cands).where(F.col("jaccard") >= min_jaccard)


def simhash(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per document from the materialized shingle-hash
    arrays (id, arr).

    bit i of the fingerprint = sign of sum over shingles of (+1 if bit i of
    the shingle hash else -1). Computed as a per-row higher-order fold:
    accumulate the 60 bit votes with ``aggregate``+``zip_with`` over the
    document's array, then pack sign bits - a pure projection. The round-1
    explode form pushed 60 rows PER SHINGLE through two shuffled
    aggregations (60x corpus rows through an exchange at 100 TB); this has
    ZERO shuffles and zero exchanged rows.
    """
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(SIMHASH_BITS)])
    votes = F.aggregate(
        F.col("arr"),
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, x: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(x["h"].bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    fp = F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.select("id", fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs with SimHash hamming distance <= max_hamming.

    Candidates come from 4 disjoint 15-bit band buckets - EXACT (pigeonhole)
    for max_hamming <= 3, so this equals the brute-force all-pairs scan
    while joining only within buckets.
    """
    if max_hamming >= SIMHASH_BANDS:
        raise ValueError("band pigeonhole requires max_hamming < number of bands")
    # shingle hashes come from the memoized doc_shingle_arrays table (already
    # distinct, already hashed), so simhash shares the one tokenize pass per
    # session with the ngram/minhash/cluster families; the fingerprint table
    # is one row per document - materialize it so the banded self-join below
    # reads blocks instead of running the bit-vote fold once per side
    fp = simhash(doc_shingle_arrays(df, id_col, text_col)).localCheckpoint()
    banded = fp.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * SIMHASH_BAND_BITS)
                        .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
                        .alias("bv"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", F.col("bk.band").alias("band"), F.col("bk.bv").alias("bv"))
    a = banded.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "bv")
    b = banded.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "bv")
    cands = (
        a.join(b, ["band", "bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    return (
        cands.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def incremental_ngram_pairs(
    df: DataFrame,
    is_new=None,
    min_jaccard: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = None,
    new_ids: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs INVOLVING a newly-ingested batch only - the
    operation a daily ingest actually runs: dedup the new batch against the
    standing corpus (and within itself) WITHOUT re-deduping the corpus.

    Batch membership comes in one of two shapes: ``is_new``, a CALLABLE
    mapping the normalized ``id`` Column to a boolean Column (a derivable
    slice, e.g. ``lambda c: c % 10 == 0`` for a hash bucket; a pre-built
    Column is rejected with a TypeError at the call site), or
    ``new_ids``, a one-column DataFrame manifest of batch
    ids - the form an incremental pipeline actually has in hand (e.g. the
    'added' slice of operators/delta.snapshot_diff). A manifest restricts
    the probe side with a LEFT SEMI join on id (AQE broadcasts it when
    small); either way the prefix inverted index still covers the whole
    corpus (the standing index a warehouse maintains), but the PROBE side
    is restricted to the new batch before the join, so candidate
    generation is proportional to |batch| x bucket sizes, never
    |corpus|^2 - and results are exactly the corpus-wide pairs that touch
    the batch (pairs are normalized to id_a < id_b). Document frequencies
    come from the full corpus, so prefix ordering is consistent on both
    sides and recall stays exact (any shared global order is).
    """
    if (is_new is None) == (new_ids is None):
        # explicit raise, not assert: the contract must survive python -O
        raise ValueError(
            "pass exactly one of is_new (Column predicate) or new_ids (manifest)"
        )
    t = float(min_jaccard)
    docs = doc_shingle_arrays(df, id_col, text_col)
    plen = (F.floor((1.0 - t) * F.col("n") + _EPS) + F.lit(1)).cast("int")

    def _explode_prefix(d):
        p = d.select(
            "id", "n", F.posexplode(F.slice("arr", F.lit(1), plen)).alias("pos", "e")
        ).select(
            "id", "n", (F.col("pos") + 1).alias("r"),
            F.col("e.h").alias("h"), F.col("e.df").alias("df"),
        )
        if max_shingle_df is not None:
            p = p.where(F.col("df") <= max_shingle_df)
        return p

    prefix = _explode_prefix(docs)
    a = prefix.select(F.col("id").alias("id_x"), "h", F.col("n").alias("na"), F.col("r").alias("ra"))
    # Restrict the probe side BEFORE the prefix explode: the semi join (or
    # slice predicate) runs on the one-row-per-document shingle table, so
    # only batch documents are ever exploded. Catalyst pushes a plain
    # filter below a Generate on its own, but NOT a semi join - done after
    # the explode, the manifest form would explode the whole corpus first
    # (plan-pinned in tests/test_plans.py).
    if new_ids is not None:
        manifest = new_ids.select(F.col(new_ids.columns[0]).alias("id"))
        probe_docs = docs.join(manifest, "id", "left_semi")
    else:
        probe_docs = docs.where(is_new(F.col("id")))
    probe = _explode_prefix(probe_docs)
    b = probe.select(
        F.col("id").alias("id_y"), "h", F.col("n").alias("nb"), F.col("r").alias("rb")
    )
    need = t / (1.0 + t) * (F.col("na") + F.col("nb")) - _EPS
    cands = (
        a.join(b, "h")
        .where(F.col("id_x") != F.col("id_y"))
        .where(F.least("na", "nb") >= t * F.greatest("na", "nb") - _EPS)
        .where(F.lit(1) + F.least(F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")) >= need)
        .select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
        )
        .distinct()
    )
    return _verify_pairs(docs, cands).where(F.col("jaccard") >= min_jaccard)


def contamination_overlap(
    eval_docs: DataFrame,
    train_docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/eval decontamination check (the n-gram-overlap audit every
    LLM training pipeline runs before trusting a benchmark number): for
    each eval document, how many of its distinct word ``k``-grams also
    appear anywhere in the training corpus.

    Output (id, n_shingles, n_shared, shared_frac) - shared_frac ~ 1 means
    the eval doc is effectively contained in the training set.

    Scale shape: one distinct-shingle projection per side and a
    shingle-equi LEFT SEMI join (co-partitioned shuffle, candidate volume
    bounded by the eval side's shingles - never a cross product); the
    train side deduplicates first so corpus-frequency skew cannot blow up
    the join. The join key is the per-gram 60-bit md5 hash, computed
    MAP-SIDE before any exchange (optimization r20, guide SS2.3 - the
    doc_shingle_arrays discipline: every exchange in the chain moves
    int64s, never k-word gram strings; the bloom variant's oracle
    shows the 60-bit key adds no collision inflation on the shipped
    corpus, and n_shingles still counts distinct STRINGS, so a within-doc hash
    collision cannot shrink it). At 100 TB the standard production
    refinement is a bloom filter on the train shingle set broadcast to
    the eval side. The join below is that check without the bloom's
    false positives, but it is exact only up to 60-bit md5 collisions: a
    collision between an eval gram and a different train gram counts a
    shared shingle that is not there. Oracle parity rules such
    collisions out for the shipped corpus only, not in general.
    """
    ev_grams = eval_docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_kgrams(words(F.col(text_col)), k)).alias("g"),
    )
    sizes = ev_grams.select("id", F.size("g").cast("long").alias("n_shingles"))
    ev = ev_grams.select(
        "id", F.explode(F.transform("g", lambda g: md5_int60(g))).alias("s")
    )
    tr = (
        train_docs.select(
            F.explode(
                F.array_distinct(
                    hashed_word_kgrams(words(F.col(text_col)), k)
                )
            ).alias("s")
        )
        .distinct()
    )
    shared = (
        ev.join(tr, "s", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        sizes.join(shared, "id", "left")
        .select(
            "id",
            "n_shingles",
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
            F.round(
                F.coalesce(F.col("n_shared"), F.lit(0))
                / F.greatest(F.col("n_shingles"), F.lit(1)),
                6,
            ).alias("shared_frac"),
        )
    )


def containment_pairs(
    df: DataFrame,
    min_containment: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    strategy: str = "count",
) -> DataFrame:
    """Asymmetric near-dup pairs by max-containment
    ``|A intersect B| / min(|A|, |B|) >= t`` - the quote/subset detector
    Jaccard structurally misses (a short document fully embedded in a long
    one has J ~ |A|/|B| but containment 1.0; the classic training-data
    leak where an eval doc is quoted inside a web page).

    Two exact-recall strategies, chosen by corpus shape (containment
    admits no size filter, so there is no free lunch either way):

      - ``count`` (default): the inverted-index COUNT aggregation - join
        the distinct-shingle postings on the 60-bit hash, id_a < id_b,
        and aggregate the shared-shingle count per pair in one map-side-
        combinable groupBy; the overlap count IS ``|A^B|``, so there is
        no candidate materialization, no distinct, and no second
        verification pass. Cost O(sum_h df_h^2) aggregation rows.
      - ``prefix``: smaller-side prefix index (the pigeonhole bound
        ``o >= ceil(t*n_min)`` references only the smaller doc, which
        indexes its ``floor((1-t)*n)+1`` rarest shingles) probing the
        full posting list, then array_intersect verification. Wins when
        sharing is SPARSE (real web corpora: candidate rate ~1e-6);
        loses on shingle-dense corpora where most pairs share a rare
        shingle and the candidate list approaches all-pairs (measured
        here: 7.5M of 12.5M possible pairs at sf0.1 - the count form is
        ~6x faster on exactly the data that breaks prefix filtering).

    Both return identical results (equality is part of the test suite).
    """
    docs = doc_shingle_arrays(df, id_col, text_col)
    t = float(min_containment)
    if strategy == "count":
        # The posting self-join is the MEASURED-fastest pair enumerator
        # on this shingle-dense corpus (optimization r20): the VERDICT
        # r19 array-per-hash regroup (collect_list per h + nested
        # i<j Generate) was implemented and ABAB-measured at 6.4-8.5 s
        # vs 2.6-3.5 s for this join in the same warmed session, both
        # orders, calibration-clean - per-row quadratic explode through
        # two Generate nodes loses to the SMJ inner loop when the median
        # posting list is ~286 docs (sum_h df_h^2 ~ 7.5M pair rows at
        # sf0.1). The shuffle keys are already 60-bit int64 hashes.
        # What DID survive the measurement: the pair exchange carries
        # ONE long - least(na, nb), the only thing cont_r reads -
        # instead of (na, nb), narrowing every partial-aggregate row by
        # 8 bytes (guide SS2.3). Values identical: least() moved from
        # after the aggregate to before it, constant within a pair group.
        post = docs.select(
            "id", "n", F.explode(F.transform("arr", lambda x: x["h"])).alias("h")
        )
        a = post.select(
            F.col("id").alias("id_a"), F.col("n").alias("na"), "h"
        )
        b = post.select(
            F.col("id").alias("id_b"), F.col("n").alias("nb"), "h"
        )
        return (
            a.join(b, "h")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.least("na", "nb").alias("nmin"))
            .groupBy("id_a", "id_b")
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.first("nmin").alias("nmin"),
            )
            .select(
                "id_a",
                "id_b",
                F.round(F.col("c") / F.col("nmin"), 6).alias("cont_r"),
            )
            .where(F.col("cont_r") >= min_containment)
        )
    if strategy != "prefix":
        raise ValueError(f"unknown strategy {strategy!r}")
    plen = (F.floor((1.0 - t) * F.col("n") + _EPS) + F.lit(1)).cast("int")
    small = docs.select(
        F.col("id").alias("id_s"),
        F.col("n").alias("n_s"),
        F.explode(F.slice("arr", F.lit(1), plen)).alias("e"),
    ).select("id_s", "n_s", F.col("e.h").alias("h"))
    full = docs.select(
        F.col("id").alias("id_f"),
        F.col("n").alias("n_f"),
        F.explode("arr").alias("e"),
    ).select("id_f", "n_f", F.col("e.h").alias("h"))
    cands = (
        small.join(full, "h")
        .where((F.col("id_s") != F.col("id_f")) & (F.col("n_s") <= F.col("n_f")))
        .select(
            F.least("id_s", "id_f").alias("id_a"),
            F.greatest("id_s", "id_f").alias("id_b"),
        )
        .distinct()
    )
    a = docs.select(
        F.col("id").alias("id_a"),
        F.transform("arr", lambda x: x["h"]).alias("ha"),
        F.col("n").alias("na"),
    )
    b = docs.select(
        F.col("id").alias("id_b"),
        F.transform("arr", lambda x: x["h"]).alias("hb"),
        F.col("n").alias("nb"),
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("ha", "hb"))
                / F.least("na", "nb"),
                6,
            ).alias("cont_r"),
        )
        .where(F.col("cont_r") >= min_containment)
    )


def span_dedup(
    df: DataFrame, k: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Cross-corpus duplicated-span accounting - the C4 / MassiveText
    "repeated span" filter (Raffel '20 SS2.2 discards any three-sentence
    span seen before; Rae '21 A.1.2 the same over n-gram windows): split
    every document into NON-OVERLAPPING k-token windows, declare the
    globally first occurrence (min (doc_id, window_idx)) of each distinct
    window the keeper, and report per document how much survives. One row
    per document holding at least one full window:

        (doc_id, n_spans, n_dup, dup_frac_r)

    where n_dup counts windows whose content already occurred earlier in
    the corpus order (including earlier in the SAME document - a
    within-doc repeat is a duplicate span too, exactly C4's behavior).

    Scale shape (100 TB): the span text never shuffles - each window is
    reduced to its 60-bit portable hash at the map side, so the explode
    emits (hash, doc, window) triples ~24 bytes wide. A single
    row_number window partitioned on the uniform span hash (tiny groups,
    no skew key) marks every occurrence after the first; ONE shuffle
    total, and the explode subtree is evaluated once. (A
    groupBy(first-owner) + join-back formulation costs two shuffles and
    evaluates the explode subtree twice - at sf0.1 fixed overheads hide
    most of the difference, but at corpus scale it doubles the scan.)
    Everything is corpus-linear; contrast with the shingle near-dup
    family above, which needs candidate GENERATION - span dedup is pure
    equality, no similarity, which is why one window suffices.
    """
    from pyspark.sql.window import Window

    toks = df.select(F.col(id_col).alias("id"), words(F.col(text_col)).alias("l"))
    n_full = F.floor(F.size("l") / k).cast("int")
    spans = (
        toks.where(F.size("l") >= k)
        .select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_full - 1),
                    lambda i: F.array_join(F.slice("l", i * k + 1, k), " "),
                )
            ).alias("w", "span"),
        )
        .select("id", "w", md5_int60(F.col("span")).alias("h"))
    )
    flagged = spans.select(
        "id",
        (
            F.row_number().over(
                Window.partitionBy("h").orderBy("id", "w")
            ) > 1
        ).cast("long").alias("dup"),
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("dup").alias("n_dup"),
        )
        .select(
            F.col("id").alias("doc_id"),
            "n_spans",
            "n_dup",
            F.round(F.col("n_dup") / F.col("n_spans"), 6).alias("dup_frac_r"),
        )
    )


def repeated_substrings(
    df: DataFrame,
    k: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact SUBSTRING-level dedup accounting (Lee et al. 2022,
    'Deduplicating Training Data Makes Language Models Better',
    ExactSubstr): find every maximal region of a document whose k-token
    substrings also occur elsewhere in the corpus, the cross-document
    repeated-text modality the fixed-window ``span_dedup`` cannot see
    (its non-overlapping grid misses repeats that straddle window
    boundaries). The suffix-array formulation is re-expressed
    Spark-first as overlapping windows + run merging:

      1. every OVERLAPPING k-token window (stride 1 - ``word_kgrams``),
         reduced map-side to its 60-bit portable hash: (h, id, pos);
      2. a window is duplicated iff its hash occurs >= 2 times anywhere
         in the corpus (cross-document or within-document, exactly the
         ExactSubstr criterion) - a count over the hash partition, no
         join-back;
      3. per document, duplicated positions merge into maximal token
         intervals (gaps-and-islands: [p, p+k-1] intervals of equal
         length merge while the position step is <= k), so a repeated
         region of length L >= k is reported once with its full token
         coverage, not as L-k+1 window hits.

    EXACT for the threshold: a repeated substring of >= k tokens implies
    every one of its k-windows repeats, and a repeated k-window IS a
    repeated k-token substring - so dup_tokens covers precisely the
    tokens inside some >= k-token repeat. (It is the SUFFIX-ARRAY
    result for threshold k; unlike the suffix array it cannot report
    the exact length of repeats longer than a merged island when
    distinct repeats abut, which is why longest_run is a lower bound.)

    Output, one row per doc with >= k tokens:
        (doc_id, n_tokens, n_runs, dup_tokens, longest_run, dup_frac_r)

    Scale shape (100 TB): corpus-linear - n_tokens window rows per doc,
    each ~24 bytes after the map-side hash; shuffle #1 is the hash
    partition count (uniform 60-bit keys; a boilerplate substring
    repeated a million times is ONE partition's count, never a row
    explosion), shuffle #2 the per-doc island window. No candidate
    generation, no joins against the corpus, no driver collect."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("id"), words(F.col(text_col)).alias("l")
    ).where(F.size("l") >= k)
    base = toks.select("id", F.size("l").cast("long").alias("n_tokens"))
    wins = toks.select(
        "id",
        # explicit unary lambda: the pre-r13 direct pass bound transform's
        # element INDEX to md5_int60's salt parameter, hashing
        # 'Column<...>:gram' while the dedup_substr oracle hashes the
        # plain gram - same duplicate sets absent collisions, but NOT the
        # identical-criterion contract. Now both sides hash the bare
        # window string (salt is keyword-only, so the old form raises).
        F.posexplode(
            F.transform(word_kgrams(F.col("l"), k), lambda g: md5_int60(g))
        ).alias("p", "h"),
    )
    dup = wins.select(
        "id",
        "p",
        (F.count(F.lit(1)).over(Window.partitionBy("h")) >= 2).alias("d"),
    ).where(F.col("d"))
    wo = Window.partitionBy("id").orderBy("p")
    runs = (
        dup.withColumn(
            "brk",
            F.when(
                F.coalesce(
                    F.col("p") - F.lag("p").over(wo), F.lit(k + 1)
                ) > k,
                1,
            ).otherwise(0),
        )
        .withColumn(
            "run_id",
            F.sum("brk").over(
                wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("id", "run_id")
        .agg(
            F.min("p").alias("p0"),
            (F.max("p") - F.min("p") + k).cast("long").alias("run_tokens"),
        )
    )
    per_doc = runs.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.sum("run_tokens").cast("long").alias("dup_tokens"),
        F.max("run_tokens").cast("long").alias("longest_run"),
    )
    return (
        base.join(per_doc, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            F.coalesce("n_runs", F.lit(0)).cast("long").alias("n_runs"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.coalesce("longest_run", F.lit(0)).cast("long").alias("longest_run"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
            ).alias("dup_frac_r"),
        )
    )


BLOOM_M_LOG2 = 22  # 4 Mi bits = 512 KiB bitmap
BLOOM_H = 2        # probe positions per shingle: md5 hex slices 16-21 / 22-27
                   # (one unsalted md5 per shingle, bit-sliced - the fpr
                   # exponent in bloom_contamination's docstring)


def bloom_contamination(
    eval_docs: DataFrame,
    train_docs: DataFrame,
    k: int = 5,
    m_log2: int = BLOOM_M_LOG2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """contamination_overlap with the production Bloom pre-filter its
    docstring names: a bitmap of the train shingle set is broadcast and
    probed MAP-SIDE on the eval stream, so the (only) shuffle - the
    exact shingle semi-join - sees just the candidates that pass the
    bloom, not every eval shingle. No false negatives by construction
    (every train position is set), so the exact pass over candidates
    returns exactly the true overlap counts; false positives only cost
    candidate volume (fpr ~ (1 - e^(-2n/m))^2).

    Output (id, n_shingles, n_candidates, n_shared, shared_frac) - one
    row per eval doc, zeros when nothing passes.

    Scale shape (100 TB): ONE md5 per shingle, bit-sliced JVM-side into
    the 60-bit exact-join key (hex chars 1-15) and both bloom positions
    (chars 16-21 / 22-27 mod m) - portable slices an external SQL engine
    replays verbatim, and no string ever reaches an exchange: the only
    shuffle is the candidate semi-join moving int64 keys. Per-partition
    numpy bitmaps are OR-merged on the driver (bounded: partitions x m/8
    bytes - the treeAggregate shape, never a collect of positions); the
    probe is one Arrow-vectorized pandas_udf doing two bitmap loads per
    shingle. No distinct and no checkpoint on the train stream: bitmap
    OR-ing is idempotent and the semi-join hash relation dedups its
    build keys, so the narrow explode+md5 plan is simply re-evaluated by
    each of the two jobs - the r11/r12 batteries showed the former
    localCheckpoint being evicted under the session memo stores' storage
    pressure and silently recomputed (driver 10.2 s / in-battery 14.3 s
    vs a ~3 s isolated line; the 'checkpoint only what several queries
    share' lesson, BASELINE.md). At a train corpus too large for an
    exact broadcast semi-join, the 512 KiB bitmap replaces shuffling the
    full eval shingle stream."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    m = 1 << m_log2

    def _sliced(df_s):
        hx = F.md5(F.col("s"))
        return df_s.withColumn(
            "h", F.conv(F.substring(hx, 1, 15), 16, 10).cast("long")
        ).withColumn(
            "p0", F.conv(F.substring(hx, 16, 6), 16, 10).cast("long") % m
        ).withColumn(
            "p1", F.conv(F.substring(hx, 22, 6), 16, 10).cast("long") % m
        ).drop("s")

    ev_grams = eval_docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_kgrams(words(F.col(text_col)), k)).alias("g"),
    )
    sizes = ev_grams.select("id", F.size("g").cast("long").alias("n_shingles"))
    ev = _sliced(ev_grams.select("id", F.explode("g").alias("s")))
    tr = _sliced(
        train_docs.select(
            F.explode(
                F.array_distinct(word_kgrams(words(F.col(text_col)), k))
            ).alias("s")
        )
    )

    def part_bitmap(batches):
        bm = np.zeros(m // 8, dtype=np.uint8)
        for pdf in batches:
            for c in ("p0", "p1"):
                p = pdf[c].to_numpy()
                np.bitwise_or.at(bm, p >> 3, (1 << (p & 7)).astype(np.uint8))
        yield pd.DataFrame({"bm": [bm.tobytes()]})

    blobs = tr.select("p0", "p1").mapInPandas(part_bitmap, "bm binary").collect()
    bitmap = np.zeros(m // 8, dtype=np.uint8)
    for row in blobs:
        bitmap |= np.frombuffer(row["bm"], dtype=np.uint8)
    # the input frames' own session, NOT getActiveSession(): the active
    # session is None on worker threads and can be a DIFFERENT session in
    # a multi-session driver (r18 review)
    spark = train_docs.sparkSession
    bc = spark.sparkContext.broadcast(bitmap.tobytes())

    def _probe_kernel(p0, p1):
        bm = np.frombuffer(bc.value, dtype=np.uint8)

        def hit(p):
            idx = p.to_numpy()
            return (bm[idx >> 3] >> (idx & 7)) & 1

        return pd.Series((hit(p0) & hit(p1)).astype(bool))

    in_bloom = pandas_udf(_probe_kernel, "boolean")

    # lazy checkpoint: cand feeds TWO aggregations (candidate counts and
    # the exact shared pass) - unmaterialized, each would re-run the
    # whole eval-side tokenize/explode/md5/Arrow-probe chain (r18
    # review); checkpointed, the second consumer reads the blocks. The
    # frame is eval-shingles x bloom-positive-fraction - eval-sized, not
    # train-sized.
    cand = ev.where(in_bloom(F.col("p0"), F.col("p1"))).localCheckpoint(
        eager=False
    )
    n_cand = cand.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    # exact pass joins on the 60-bit key; the oracle computes the TRUE
    # string-set overlap over ALL eval shingles, so a green hash proves
    # both no-bloom-false-negative AND no key-collision inflation
    shared = (
        cand.join(tr.select("h"), "h", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        sizes.join(n_cand, "id", "left")
        .join(shared, "id", "left")
        .select(
            "id",
            "n_shingles",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.round(
                F.coalesce("n_shared", F.lit(0))
                / F.greatest(F.col("n_shingles"), F.lit(1)),
                6,
            ).alias("shared_frac"),
        )
    )


def fuzzy_pairs(
    df: DataFrame,
    max_lev: int = 8,
    len_band: int = 16,
    gram_k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int = 64,
) -> DataFrame:
    """Edit-distance record linkage (fuzzy join): pairs whose full texts
    are within ``max_lev`` Levenshtein edits, found WITHOUT an all-pairs
    scan. The classic blocked-linkage shape:

      1. blocking: candidates = pairs sharing >= 1 distinct word
         ``gram_k``-gram with document frequency <= ``df_cap`` (an
         inverted-index self-join - rare k-grams make the posting lists
         short, and the df cap bounds the worst one: without it a single
         boilerplate gram shared by a million docs contributes ~10^12
         candidate rows. A char edit inside a word perturbs at most
         ``gram_k`` gram windows, and a space edit that merges/splits
         words up to ``gram_k + 1``, so two docs within ``max_lev``
         edits share all but D = (gram_k+1)*max_lev of either one's
         grams - any doc retaining MORE than D uncapped grams provably
         shares an uncapped gram with every true partner);
      2. guarantee-restoring fallback: docs whose raw gram count exceeds
         D but whose UNCAPPED count fell to <= D (all-boilerplate docs -
         the docs whose pigeonhole guarantee the cap removed) are paired
         against each other directly via a length-bucketized self-join
         (a pair missed by the posting join needs BOTH endpoints without
         a post-cap guarantee, so the fallback is R x R within the
         length band, never R x corpus). CONTRACT (corrected r18): the
         capped operator guarantees every pair where at least one
         endpoint retains > D UNCAPPED grams, plus all R x R pairs; a
         pair between an R doc and a doc with <= D RAW grams whose few
         shared grams are all capped CAN be missed even though the
         uncapped operator (whose pigeonhole only needs raw > D on one
         endpoint) finds it - the standard recall concession every
         df-capped production blocker makes, bounded to pairs where one
         side is short AND the other is all-boilerplate. Extending the
         fallback to R x {raw <= D} would reintroduce the quadratic
         boilerplate join the cap exists to prevent (a short-boilerplate
         corpus makes that R x corpus);
      3. length filter: ``|len_a - len_b| <= len_band`` (edit distance is
         >= the length difference, so any band >= max_lev is exact-recall)
         - applied to the gram rows BEFORE the candidate-pair distinct,
         so over-frequent-but-uncapped grams prune ahead of the shuffle;
      4. verify: one JVM THRESHOLD-BOUNDED ``levenshtein(a, b, k)`` per
         surviving candidate - the banded DP costs O(n*k) instead of
         O(n*m) and exits early, returning -1 above the bound (exact
         distances for every kept pair).

    Scale shape: the join keys on k-gram hashes (shuffle join, key
    cardinality grows with the corpus - never broadcast-assumed), the
    largest posting list is df_cap docs, the verify cost is
    candidate-proportional, and no Python executes per row. Returns
    (id_a, id_b, lev) for verified pairs, unordered - the caller applies
    its own presentation sort.
    """
    if len_band < max_lev:
        raise ValueError(
            f"len_band ({len_band}) must be >= max_lev ({max_lev}) "
            "or length banding breaks exact recall"
        )
    if df_cap < 2:
        raise ValueError(f"df_cap must allow a pair (>= 2), got {df_cap}")
    guarantee_grams = (gram_k + 1) * max_lev
    base = df.select(
        F.col(id_col).alias("id"),
        F.length(F.col(text_col)).alias("len"),
        F.col(text_col).alias("t"),
    )
    # block on the 60-bit hash of the gram, not the raw string (the
    # family-wide posting-key discipline: ~4x smaller shuffle keys; a
    # 60-bit collision can only ADD a candidate, which the levenshtein
    # verification then rejects, or in the worst case inflate a gram's
    # df toward the cap - which the R x R fallback then absorbs)
    # the gram index and its df-capped projection are consumed by FIVE
    # subtrees (df count, both posting-join sides, n_raw, n_unc), so both
    # are session-memoized localCheckpoints (the shingle-index idiom) -
    # without this the explode and the df aggregation replay per consumer
    grams = _memoized_checkpoint(
        "fuzzy_gram_idx",
        base.select(
            "id",
            "len",
            # FUSED gram+hash single-lambda form: the two-lambda
            # transform-over-transform tree never semanticHash-
            # canonicalizes, so the memo below re-keyed on EVERY call
            # (r13 finding - the warmup-prepaid index was unreachable)
            F.explode(
                F.array_distinct(hashed_word_kgrams(words(F.col("t")), gram_k))
            ).alias("h"),
        ),
    )
    rare = _memoized_checkpoint(
        "fuzzy_rare_idx",
        grams.join(
            grams.groupBy("h").agg(F.count(F.lit(1)).alias("gdf"))
            .where(F.col("gdf") <= df_cap)
            .select("h"),
            "h",
            "left_semi",
        ),
    )
    cand = (
        rare.alias("a")
        .join(rare.alias("b"), "h")
        .where(
            (F.col("a.id") < F.col("b.id"))
            # band on the gram rows: prunes before the distinct's shuffle
            & (F.abs(F.col("a.len") - F.col("b.len")) <= len_band)
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    # fallback set R: guarantee held pre-cap (raw > D) but not post-cap
    n_raw = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_raw"))
    n_unc = rare.groupBy("id").agg(F.count(F.lit(1)).alias("n_unc"))
    r_ids = (
        n_raw.join(n_unc, "id", "left")
        .where(
            (F.col("n_raw") > guarantee_grams)
            & (F.coalesce("n_unc", F.lit(0)) <= guarantee_grams)
        )
        .select("id")
    )
    rbase = base.join(r_ids, "id", "left_semi").select(
        "id", "len", F.floor(F.col("len") / len_band).cast("long").alias("bkt")
    )
    # bucketized R x R: a |la-lb| <= len_band pair has bucket indices
    # within +-1 of each other, so exploding side a to (bkt-1, bkt, bkt+1)
    # meets side b's single bucket exactly once per pair - an equi-join,
    # never a cross join, and no duplicate candidate rows
    ra = rbase.select(
        F.col("id").alias("id_a"),
        F.col("len").alias("la"),
        F.explode(
            F.array(F.col("bkt") - 1, F.col("bkt"), F.col("bkt") + 1)
        ).alias("bkt"),
    )
    rb = rbase.select(
        F.col("id").alias("id_b"), F.col("len").alias("lb"), "bkt"
    )
    rcand = (
        ra.join(rb, "bkt")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= len_band)
        )
        .select("id_a", "id_b")
    )
    pairs = cand.unionAll(rcand).distinct()
    banded = (
        pairs.join(base.select(F.col("id").alias("id_a"),
                               F.col("t").alias("ta")), "id_a")
        .join(base.select(F.col("id").alias("id_b"),
                          F.col("t").alias("tb")), "id_b")
    )
    return (
        banded.select(
            "id_a",
            "id_b",
            F.levenshtein("ta", "tb", max_lev).cast("long").alias("lev"),
        )
        # the bounded DP returns -1 above the threshold; >= 0 keeps every
        # pair within max_lev (including exact matches at 0)
        .where(F.col("lev") >= 0)
    )
