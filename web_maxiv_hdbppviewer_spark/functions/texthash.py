"""Text tokenization and portable hashing expressions.

Hashing strategy: every hash an engine-portable deterministic function -
``bigint(first 15 hex chars of md5)`` - so dedup results are verifiable
against any SQL oracle that has md5 (DuckDB: ``('0x'||substr(md5(x),1,15))::BIGINT``).
15 hex chars = 60 bits, always positive in int64, headroom for bit shifts.

At 100 TB you would swap ``md5`` for ``xxhash64`` (Spark's builtin, ~10x
faster) behind the same helpers; md5 is the cross-engine-verifiable choice,
xxhash64 the production one - both JVM built-ins, never Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_BITS = 60
MERSENNE_31 = 2_147_483_647
FP_PRIME = 1_000_003


def words(text: Column | str) -> Column:
    """Lower-cased whitespace tokens, empties dropped."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), " "), lambda x: x != "")


def word_bigrams(tokens: Column) -> Column:
    """Adjacent-word bigrams joined with one space (shingles for dedup)."""
    n = F.size(tokens)
    return F.zip_with(
        F.slice(tokens, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(tokens, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def word_kgrams(tokens: Column, k: int) -> Column:
    """Adjacent word k-grams joined with one space - ``word_bigrams``
    generalized: ONE arrays_zip over the k shifted slices + ONE top-level
    transform concat (bulk array ops), NOT a per-gram
    transform(sequence, i -> join(slice(...))) - the per-gram subarray
    allocation was measured ~2x slower over the sf0.1 corpus.
    ``greatest(n-k+1, 0)`` makes every slice empty for docs shorter than
    k, so short docs yield [] without an explicit guard.

    Deliberately NOT k-1 chained zip_with lambdas (the pre-r13 shape):
    nested lambda variables defeat Catalyst's semanticHash
    normalization, so every call produced a fresh hash and the
    fuzzy-linkage session memo ("fuzzy_gram_idx") could never hit
    across calls - a single top-level lambda normalizes (verified: the
    bigram zip_with memo-hits; the chained form re-keyed per call).
    Output strings are byte-identical to the chained form."""
    n = F.size(tokens)
    m = F.greatest(n - k + 1, F.lit(0))
    zipped = F.arrays_zip(*[F.slice(tokens, j + 1, m) for j in range(k)])
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)])
    )


def hashed_word_kgrams(tokens: Column, k: int) -> Column:
    """Per-gram 60-bit hashes: ``transform(word_kgrams(..), g -> md5(g))``.

    One named spelling for the hashed-gram stream so memoized consumers
    (the fuzzy gram index) all build the byte-identical plan. History
    (r13): the old chained-zip_with ``word_kgrams`` never
    semanticHash-canonicalized (every call re-keyed the session memo),
    and the old direct ``transform(.., md5_int60)`` pass bound the
    element index to the salt parameter, silently hashing
    'Column<...>:gram'. With the arrays_zip ``word_kgrams`` and a
    keyword-only salt, the plain composition is stable across calls and
    hashes exactly what the SQL oracles hash - verified by probe and by
    the zero-first-touch bench battery."""
    return F.transform(word_kgrams(tokens, k), lambda g: md5_int60(g))


def md5_int60(c: Column, *, salt: str | None = None) -> Column:
    """Portable 60-bit integer hash: bigint(md5(salt ':' x)[0:15 hex]).

    ``salt`` is KEYWORD-ONLY: a two-positional-parameter callable passed
    directly to ``F.transform`` gets the element index bound to its
    second parameter - here that silently salted every hash with the
    stringified index Column (the r13 review finding: the engine hashed
    'Column<...>:gram' while oracles hash the plain gram, so the
    "identical criterion both sides" contract held only absent
    collisions). Keyword-only, ``transform(arr, md5_int60)`` is a unary
    callable and hashes exactly what the SQL twin hashes."""
    src = F.concat(F.lit(f"{salt}:"), c) if salt is not None else c
    return F.conv(F.substring(F.md5(src), 1, 15), 16, 10).cast("long")
