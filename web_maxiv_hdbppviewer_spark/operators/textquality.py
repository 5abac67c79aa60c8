"""Text-analysis operators: token stats, quality scoring, language ID,
document fingerprinting (SURVEY §7.1 M6).

All pure column expressions over higher-order array functions - language ID
and quality scoring run inside whole-stage codegen, no UDF. Fingerprinting
uses the portable md5-int60 hash (functions/texthash.py) so results verify
against any SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.texthash import FP_PRIME, MERSENNE_31, md5_int60, word_kgrams, words

#: small in-expression stopword list for quality scoring (English-centric,
#: matches the synthetic corpus vocabulary)
STOPWORDS = ["the", "a", "of", "and", "to"]

#: literal query terms for the declared BM25 scoring query (mixed document
#: frequencies: two common terms, one rare)
BM25_TERMS = ["query", "dup", "customer"]

#: per-language character-trigram profiles (space = word boundary, the
#: standard n-gram-profile language ID of Cavnar-Trenkle'94 reduced to
#: literal top-trigram lists so scoring stays pure codegen and
#: SQL-mirrorable); tie-break order is the dict order (first wins)
LANG_TRIGRAMS = {
    "en": [" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing", " to"],
    "de": [" de", "der", "die", "ie ", "und", " un", "sch", "ein", "ch ", "cht"],
    "es": [" qu", "que", "ue ", " la", "la ", "os ", " es", "cio", " en", "ado"],
    "fr": [" le", "le ", "es ", " et", "et ", " la", "ent", " pa", "ais", "eur"],
}


def _count_in(tokens, vocab: list[str]):
    lits = [F.lit(v) for v in vocab]
    return F.size(F.filter(tokens, lambda x: x.isin(lits)))


# Whitespace-aware trims (r19 review): F.trim/ltrim/rtrim strip ONLY the
# space character, while the published C4/Gopher line rules (and the
# suite's Python twins via str.strip) treat tabs/CR as blank too - a
# tab-only line counted as nonblank here but blank in the twin, and a
# CRLF line failed the terminal-punctuation check because rtrim left
# the '\r'. These helpers strip the ASCII whitespace class (Java regex
# \s = [ \t\n\x0B\f\r]; lines are already split on \n), and the
# gopher/c4 oracles mirror them with the same charset.
#
# Implemented as CHARSET trims (StringTrim/Left/Right with an explicit
# trim set - optimization r19), not regexp_replace: a leading/trailing
# run of characters from a set is exactly what TRIM(BOTH/LEADING/
# TRAILING trimStr ...) computes, as a plain codegen char loop with no
# regex engine; these run once per LINE across every rules query.
_WS = " \t\n\x0b\f\r"


def _wtrim(c):
    return F.btrim(c, F.lit(_WS))


def _wltrim(c):
    return F.call_function("ltrim", F.lit(_WS), c)


def _wrtrim(c):
    return F.call_function("rtrim", F.lit(_WS), c)


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace token counts: total and distinct per document."""
    toks = words(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )


#: BPE-ish pre-tokenizer pattern (GPT-2-style word splitting, simplified to
#: the Java-regex/RE2 common subset - no lookahead): contractions, letter
#: runs, digit runs, punctuation runs. Applied to lower-cased text; the
#: token count approximates LLM token budgeting far better than whitespace.
BPE_PATTERN = r"'[a-z]+|[a-z]+|[0-9]+|[^a-z0-9\s]+"


def bpe_token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Subword-ish token stats under the BPE-style pre-tokenizer: count,
    distinct count, and mean token length (chars/token, the compression
    ratio LLM data pipelines budget by). Pure codegen - regexp_extract_all
    + array functions, no UDF."""
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_PATTERN), 0)
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_bpe"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_bpe_distinct"),
        F.round(
            F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
            # NULLIF guard (r19 review): a token-less doc (whitespace-only
            # text) must emit a NULL mean, not throw DIVIDE_BY_ZERO under
            # ANSI (Spark 4 default) and kill the whole job on one
            # degenerate row - the gopher_rules r15 contract applied to
            # the stats projections (SQL twin: x / NULLIF(n, 0))
            / F.nullif(F.size(toks), F.lit(0)),
            6,
        ).alias("mean_tok_len"),
    )


def quality_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Length / stopword / diversity quality features + a combined score.

    score = 0.4*stopword_ratio + 0.3*min(n_tokens/100, 1) + 0.3*distinct_ratio
    - a deterministic toy of the usual heuristic quality filters
    (C4/Gopher-style rules), kept SQL-mirrorable. ``keep_cols`` carries
    extra dimension columns through on the SAME scan (pipe_stats groups
    the scores by them without re-joining the source).
    """
    # let-bind the token array behind a Generate barrier: CollapseProject
    # otherwise re-inlines the split into each of the ~6 uses per row
    def _feat(toks):
        n = F.size(toks)
        # NULLIF guard (r19 review): a token-less doc (empty or
        # whitespace-only text) gets NULL ratios and a NULL quality -
        # the row survives with its counts - instead of throwing
        # DIVIDE_BY_ZERO under ANSI (Spark 4 default) and killing
        # text_quality / pipe_stats / pipe_curriculum on one degenerate
        # row (SQL twin: x / NULLIF(n, 0))
        nz = F.nullif(n, F.lit(0))
        stop_ratio = _count_in(toks, STOPWORDS) / nz
        dist_ratio = F.size(F.array_distinct(toks)) / nz
        len_score = F.least(n / F.lit(100.0), F.lit(1.0))
        return F.struct(
            n.cast("long").alias("n_tokens"),
            F.round(stop_ratio, 6).alias("stop_ratio"),
            F.round(dist_ratio, 6).alias("distinct_ratio"),
            F.round(
                0.4 * stop_ratio + 0.3 * len_score + 0.3 * dist_ratio, 6
            ).alias("quality"),
        )

    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.length(F.col(text_col)).cast("long").alias("n_chars_m"),
        F.explode(F.transform(F.array(words(F.col(text_col))), _feat)).alias("q"),
    )
    return base.select(
        id_col,
        *keep_cols,
        "n_chars_m",
        F.col("q.n_tokens").alias("n_tokens"),
        F.col("q.stop_ratio").alias("stop_ratio"),
        F.col("q.distinct_ratio").alias("distinct_ratio"),
        F.col("q.quality").alias("quality"),
    )


#: the Gopher rule-filter stopword set (Rae et al. 2021, App. A1.1 -
#: "contains at least 2 of the following English words"); distinct from
#: the 5-word scoring STOPWORDS above, which feeds quality_scores' ratio
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
#: Gopher rule thresholds, named so the SQL oracle and the keep predicate
#: provably compare the same literals
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_WLEN, GOPHER_MAX_WLEN = 3.0, 10.0
GOPHER_MAX_SYMBOL = 0.1
GOPHER_MAX_BULLET = 0.9
GOPHER_MAX_ELLIPSIS = 0.3
GOPHER_MIN_ALPHA = 0.8
GOPHER_MIN_STOP = 2
_BULLETS = ["-", "*", "•"]


def gopher_rules(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The Gopher rule-based quality filter (Rae et al. 2021, Appendix
    A1.1) - the published heuristic rule set production pretraining
    pipelines (Gopher, RefinedWeb, Dolma) run before any trained filter:

      1. 50 <= word count <= 100,000
      2. 3 <= mean word length <= 10
      3. hash-to-word ratio <= 0.1 AND ellipsis-to-word ratio <= 0.1
         (the paper drops on EITHER symbol's ratio exceeding 0.1 -
         "for either the hash symbol or the ellipsis" - so the two
         ratios are computed and compared SEPARATELY, never summed;
         ellipses counted as non-overlapping '...' plus unicode '…')
      4. <= 90% of lines start with a bullet ('-', '*', bullet char)
      5. <= 30% of lines end with an ellipsis
      6. >= 80% of words contain an alphabetic character
      7. contains >= 2 distinct words of {the, be, to, of, and, that,
         have, with}

    One row per non-empty document: every rule's feature column (ratios
    ROUND-6 before comparison, so the keep predicate is bit-portable
    cross-engine) plus the combined ``keep``. Token-less documents and
    documents with zero nonblank lines are excluded (their ratios are
    undefined; Gopher's rule 1 would drop them anyway).

    Scale shape: a pure narrow projection - the token and line arrays
    are let-bound behind the quality_scores Generate barrier so the
    whitespace/newline splits run once per row despite ~10 uses; symbol
    counts are length-delta arithmetic inside whole-stage codegen; zero
    shuffles, zero UDFs, zero driver round-trips."""
    txt = F.col(text_col)
    hashes = F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))
    ellipses = _trigram_hits(txt, "...") + (
        F.length(txt) - F.length(F.replace(txt, F.lit("…"), F.lit("")))
    )

    def _feat(x):
        toks, lines = x["toks"], x["lines"]
        n = F.size(toks)
        nl = F.size(lines)
        mean_wlen = F.round(
            F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
            / n,
            6,
        )
        hash_r = F.round(x["n_hash"] / n, 6)
        ell_r = F.round(x["n_ell"] / n, 6)
        bullet = F.round(
            F.size(
                F.filter(
                    lines,
                    lambda ln: F.substring(_wltrim(ln), 1, 1).isin(
                        [F.lit(b) for b in _BULLETS]
                    ),
                )
            )
            / nl,
            6,
        )
        ell = F.round(
            F.size(
                F.filter(
                    lines,
                    lambda ln: _wrtrim(ln).endswith("...")
                    | _wrtrim(ln).endswith("…"),
                )
            )
            / nl,
            6,
        )
        alpha = F.round(
            F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))) / n, 6
        )
        n_stop = F.size(
            F.array_intersect(
                toks, F.array([F.lit(s) for s in GOPHER_STOPWORDS])
            )
        )
        return F.struct(
            n.cast("long").alias("n_words"),
            mean_wlen.alias("mean_word_len"),
            hash_r.alias("hash_ratio"),
            ell_r.alias("ellipsis_sym_ratio"),
            bullet.alias("frac_bullet"),
            ell.alias("frac_ellipsis"),
            alpha.alias("frac_alpha"),
            n_stop.cast("long").alias("n_stop"),
        )

    # token-less and nonblank-line-less docs are excluded BEFORE the
    # feature projection: under ANSI mode (Spark 4 default) the ratio
    # divisions would otherwise throw DIVIDE_BY_ZERO during struct
    # evaluation - a post-projection filter is too late. Both guards
    # matter: whitespace-only multi-line text ("\n\n") HAS a space-split
    # token but zero nonblank lines (hypothesis-caught,
    # tests/test_round15.py)
    nonblank = F.filter(F.split(txt, "\n"), lambda ln: _wtrim(ln) != "")
    base = df.where((F.size(words(txt)) > 0) & (F.size(nonblank) > 0)).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.array(
                    F.struct(
                        words(txt).alias("toks"),
                        nonblank.alias("lines"),
                        hashes.cast("long").alias("n_hash"),
                        ellipses.cast("long").alias("n_ell"),
                    )
                ),
                _feat,
            )
        ).alias("g"),
    )
    g = F.col("g")
    keep = (
        g["n_words"].between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & g["mean_word_len"].between(GOPHER_MIN_WLEN, GOPHER_MAX_WLEN)
        & (g["hash_ratio"] <= GOPHER_MAX_SYMBOL)
        & (g["ellipsis_sym_ratio"] <= GOPHER_MAX_SYMBOL)
        & (g["frac_bullet"] <= GOPHER_MAX_BULLET)
        & (g["frac_ellipsis"] <= GOPHER_MAX_ELLIPSIS)
        & (g["frac_alpha"] >= GOPHER_MIN_ALPHA)
        & (g["n_stop"] >= GOPHER_MIN_STOP)
    )
    return base.select(
        id_col,
        g["n_words"].alias("n_words"),
        g["mean_word_len"].alias("mean_word_len"),
        g["hash_ratio"].alias("hash_ratio"),
        g["ellipsis_sym_ratio"].alias("ellipsis_sym_ratio"),
        g["frac_bullet"].alias("frac_bullet"),
        g["frac_ellipsis"].alias("frac_ellipsis"),
        g["frac_alpha"].alias("frac_alpha"),
        g["n_stop"].alias("n_stop"),
        keep.alias("keep"),
    )


#: C4 line-keep thresholds (Raffel et al. 2020 §2.2)
C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3
_C4_TERMINALS = [".", "!", "?", '"']


def c4_rules(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The C4 line-level cleaning filter (Raffel et al. 2020, §2.2) -
    the complement of the doc-level Gopher rules: C4 cleans WITHIN the
    document before judging it. Line rules (a line survives iff all
    hold): ends in terminal punctuation ('.', '!', '?', '"' after
    rtrim), has >= 5 words, does not contain 'javascript' (lower-cased
    match). Document rules over the SURVIVING lines: >= 3 sentences
    (terminal-punctuation occurrences in the kept text), no curly brace
    anywhere in the original text (code), no 'lorem ipsum'. DELIBERATE
    omission from the published set: C4's bad-words page drop (the
    LDNOOBW list) needs an external word-list artifact the engine does
    not vendor; the mechanism is the same contains() rule as
    'lorem ipsum', pluggable when the list is supplied.

    One row per document: line accounting (n_lines, n_kept_lines,
    ROUND-6 kept_ratio), the doc-rule booleans, the kept-text word
    count, the doc verdict, and md5(cleaned) - the fingerprint of the
    kept-lines-joined text, ready for C4's downstream exact dedup at
    the cleaned grain (dedup_exact's key shape).

    Scale shape: a pure narrow projection - the line array is let-bound
    behind the quality_scores Generate barrier (split runs once per row
    despite ~6 uses); every rule is codegen string/array arithmetic;
    zero shuffles, zero UDFs."""
    txt = F.col(text_col)

    def _line_ok(ln):
        r = _wrtrim(ln)
        ends = F.substring(r, -1, 1).isin([F.lit(t) for t in _C4_TERMINALS])
        n_words = F.size(F.filter(F.split(ln, " "), lambda w: w != ""))
        return (
            ends
            & (n_words >= C4_MIN_LINE_WORDS)
            & ~F.lower(ln).contains("javascript")
        )

    def _feat(x):
        lines, kept = x["lines"], F.filter(x["lines"], _line_ok)
        cleaned = F.array_join(kept, "\n")
        n_sent = sum(
            (
                F.length(cleaned)
                - F.length(F.replace(cleaned, F.lit(t), F.lit("")))
                for t in [".", "!", "?"]
            ),
            F.lit(0),
        )
        return F.struct(
            F.size(lines).cast("long").alias("n_lines"),
            F.size(kept).cast("long").alias("n_kept_lines"),
            F.round(F.size(kept) / F.size(lines), 6).alias("kept_ratio"),
            F.aggregate(
                kept,
                F.lit(0).cast("long"),
                lambda a, ln: a
                + F.size(F.filter(F.split(ln, " "), lambda w: w != "")),
            ).alias("n_kept_words"),
            n_sent.cast("long").alias("n_sentences"),
            F.md5(cleaned).alias("cleaned_md5"),
        )

    # line-less docs excluded BEFORE the projection: ANSI mode would
    # throw on the kept_ratio division during struct evaluation (the
    # gopher_rules hypothesis-caught contract)
    nonblank = F.filter(F.split(txt, "\n"), lambda ln: _wtrim(ln) != "")
    base = df.where(F.size(nonblank) > 0).select(
        F.col(id_col),
        txt.contains("{").alias("has_brace"),
        F.lower(txt).contains("lorem ipsum").alias("has_lorem"),
        F.explode(
            F.transform(F.array(F.struct(nonblank.alias("lines"))), _feat)
        ).alias("c"),
    )
    c = F.col("c")
    keep = (
        (c["n_sentences"] >= C4_MIN_SENTENCES)
        & ~F.col("has_brace")
        & ~F.col("has_lorem")
    )
    return base.select(
        id_col,
        c["n_lines"].alias("n_lines"),
        c["n_kept_lines"].alias("n_kept_lines"),
        c["kept_ratio"].alias("kept_ratio"),
        c["n_kept_words"].alias("n_kept_words"),
        c["n_sentences"].alias("n_sentences"),
        "has_brace",
        "has_lorem",
        keep.alias("keep"),
        c["cleaned_md5"].alias("cleaned_md5"),
    )


def _trigram_hits(text_lower, trigram: str):
    """Non-overlapping occurrence count of one trigram: every engine agrees
    on (len(s) - len(replace(s, t, ''))) / 3, and the division is exact."""
    return (
        (F.length(text_lower) - F.length(F.replace(text_lower, F.lit(trigram), F.lit(""))))
        / F.lit(3)
    ).cast("long")


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Char-trigram-profile language ID: score(lang) = total occurrences of
    that language's profile trigrams in the lower-cased text; argmax with
    ties broken by LANG_TRIGRAMS order. Trigram counting via length-delta
    of replace() keeps the whole classifier inside whole-stage codegen and
    bit-reproducible in any SQL engine - no tokenizer dependency, and
    unlike the marker-word heuristic it scores inflected/compound forms
    (German 'verschiedenen' hits 'sch'/'ein'/'cht' without exact-word
    matches).

    The per-language scores are LET-BOUND behind a Generate barrier (the
    quality_scores pattern, PLANS.md): the argmax cascade compares each
    score up to |langs| times and CollapseProject would otherwise re-inline
    the full 10-replace() counting chain (plus its lower()) at every use -
    measured ~4x per-row work, the round-4 1.83 s regression. Bound, each
    profile trigram is counted exactly once per row - the same one-pass
    shape as the oracle's `sc` CTE."""

    def _scores(low):
        return F.struct(
            *[
                sum(
                    (_trigram_hits(low, t) for t in tris[1:]),
                    _trigram_hits(low, tris[0]),
                )
                .cast("long")
                .alias(f"s_{lang}")
                for lang, tris in LANG_TRIGRAMS.items()
            ]
        )

    base = df.select(
        F.col(id_col),
        F.explode(F.transform(F.array(F.lower(F.col(text_col))), _scores)).alias("sc"),
    )
    langs = list(LANG_TRIGRAMS)
    scores = {lang: F.col(f"sc.s_{lang}") for lang in langs}
    # cascade: lang i wins iff its score >= every later lang's score
    # (earlier langs already failed their own cascade step), so ties go to
    # the earliest lang in LANG_TRIGRAMS order - same CASE shape as the oracle
    pred = F.lit(langs[-1])
    for i in range(len(langs) - 2, -1, -1):
        cond = None
        for other in langs[i + 1 :]:
            c = scores[langs[i]] >= scores[other]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(langs[i])).otherwise(pred)
    score = scores[langs[0]]
    for lang in langs[1:]:
        score = F.greatest(score, scores[lang])
    return base.select(F.col(id_col), pred.alias("pred_lang"), score.cast("long").alias("score"))


def fingerprints(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Order-sensitive document fingerprint (rolling-hash style).

    fp = sum over words of ((md5_int60(word) mod 1000003) * position_1based)
         mod (2^31 - 1)
    Position-weighting makes permuted documents fingerprint differently
    (unlike bag-of-words hashes); all arithmetic fits int64 exactly.

    Computed as a per-row higher-order ``aggregate`` over the token array -
    NO explode and NO shuffle (the round-1 posexplode+groupBy form shuffled
    one row per token; this is embarrassingly parallel and corpus-linear).
    The running ``(acc + x) % M`` fold equals the oracle's ``SUM(term) % M``
    by modular arithmetic; zero-token documents are dropped to match the
    oracle's empty-unnest semantics.
    """
    toks = words(F.col(text_col))
    terms = F.transform(
        toks, lambda w, i: (md5_int60(w) % FP_PRIME) * (i + F.lit(1))
    )
    fp = F.aggregate(
        terms,
        F.lit(0).cast("long"),
        lambda acc, x: (acc + x) % F.lit(MERSENNE_31),
    )
    return df.where(F.size(toks) > 0).select(F.col(id_col), fp.alias("fp"))


def repetition_scores(
    df: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition features: of a document's
    word ``k``-gram occurrences, what fraction are repeats of an earlier
    k-gram (dup_frac), and what fraction belongs to the single most
    frequent k-gram (top_frac). High values flag boilerplate / template /
    spam documents that length or stopword heuristics miss.

    The WHOLE operator is a projection - zero shuffles, zero joins: the
    top-gram count is the longest run in the doc's SORTED gram array,
    computed by one sequential fold (an explode + double groupBy + join
    formulation was measured ~10x slower at sf0.1 and shuffled the corpus's
    grams twice for a per-document statistic).

    The gram array is LET-BOUND via transform-over-a-1-element-array and
    unpacked through explode: CollapseProject otherwise re-inlines the
    k-gram construction into every one of its four uses (measured ~4x
    recompute per row), and a Generate node is the projection-collapse
    barrier that keeps it evaluated once.
    """
    grams = word_kgrams(words(F.col(text_col)), k)
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")

    def _stats(g):
        n = F.size(g)
        run_state = F.aggregate(
            F.array_sort(g),
            F.struct(F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(one).alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(one),
                ).alias("best"),
            ),
        )
        return F.struct(
            n.cast("long").alias("n_grams"),
            F.round(
                (n - F.size(F.array_distinct(g))) / F.greatest(n, F.lit(1)), 6
            ).alias("dup_frac"),
            F.round(run_state["best"] / F.greatest(n, F.lit(1)), 6).alias("top_frac"),
        )

    base = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.transform(F.array(grams), _stats)).alias("st"),
    )
    return base.select(
        "id",
        F.col("st.n_grams").alias("n_grams"),
        F.col("st.dup_frac").alias("dup_frac"),
        F.col("st.top_frac").alias("top_frac"),
    )


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 relevance of every document against a literal query-term list
    (Robertson-Sparck Jones; the ranking function behind Lucene et al.):

      score(d) = sum over t of idf(t) * tf * (k1+1) / (tf + k1*(1-b+b*dl/avgdl))
      idf(t)   = ROUND(ln((N - df_t + 0.5)/(df_t + 0.5) + 1), 6)

    Corpus statistics (N, per-term document frequencies, ROUND-6 avgdl)
    are ONE aggregation pass collected to the driver (a handful of
    scalars, bounded by the term count - the same bounded-round-trip
    discipline as BPE/k-means training); scoring is then a pure
    projection. Both idf and avgdl are rounded to 6 decimals BEFORE use,
    so the only cross-engine float surface is the final arithmetic, which
    is written in the identical operation order as the SQL oracle.

    The token array is LET-BOUND behind a Generate barrier in BOTH passes
    (the quality_scores pattern, PLANS.md): the stats aggregation reads it
    1 + |terms| times and the scoring projection |terms| + 1 times, so
    CollapseProject would otherwise re-run the whitespace split ~4x per
    row per pass - a scan-cost multiplier at corpus scale. Bound, each
    row is tokenized exactly once per pass.

    Empty/degenerate corpora short-circuit to an empty result (n == 0, or
    avgdl NULL/0 when every document tokenizes to nothing): BM25 is
    undefined there and the guard keeps the driver-side float(avgdl) and
    the dl/avgdl norm from raising - same defensive shape as the other
    driver-bounded trainers.
    """
    import math

    def _tok_bound(frame, *head):
        return frame.select(
            *head,
            F.explode(F.array(words(F.col(text_col)))).alias("toks"),
        )

    toks = F.col("toks")
    stats = _tok_bound(df).select(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.size(toks)), 6).alias("avgdl"),
        *[
            F.sum(
                (F.size(F.filter(toks, lambda x: x == F.lit(t))) > 0).cast("long")
            ).alias(f"df{i}")
            for i, t in enumerate(terms)
        ],
    ).collect()[0]
    n_docs, avgdl = stats["n"], stats["avgdl"]
    if not n_docs or not avgdl:
        return df.select(
            F.col(id_col), F.lit(None).cast("double").alias("bm25")
        ).where(F.lit(False))
    idfs = [
        round(
            math.log((n_docs - stats[f"df{i}"] + 0.5) / (stats[f"df{i}"] + 0.5) + 1.0),
            6,
        )
        for i in range(len(terms))
    ]
    dl = F.size(toks).cast("double")
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(float(avgdl)))
    score = None
    for t, idf in zip(terms, idfs):
        tf = F.size(F.filter(toks, lambda x: x == F.lit(t))).cast("double")
        # zero-denominator guard (r19 review): at b=1.0 a token-less doc
        # has norm == 0 and tf == 0, so the bare division is 0/0 - an
        # ANSI DIVIDE_BY_ZERO that would fail the whole scoring
        # projection. The BM25 limit for tf -> 0 is a 0 contribution,
        # which the WHEN branch emits; NULL text still propagates NULL
        # (the condition is NULL, not true). Applied ONLY where zero is
        # reachable (b >= 1 or k1 <= 0): for b < 1, k1 > 0 the
        # denominator is >= k1*(1-b) > 0 for every document, so the
        # declared queries (b=0.25) keep their exact historical plan.
        if b >= 1.0 or k1 <= 0.0:
            part = F.when(tf + norm == 0.0, F.lit(0.0)).otherwise(
                F.lit(idf) * tf * F.lit(k1 + 1.0) / (tf + norm)
            )
        else:
            part = F.lit(idf) * tf * F.lit(k1 + 1.0) / (tf + norm)
        score = part if score is None else score + part
    return _tok_bound(df, F.col(id_col)).select(
        F.col(id_col), F.round(score, 6).alias("bm25")
    )


def lm_bigram_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document surprisal under a corpus-trained add-one bigram LM -
    the classic perplexity quality signal (CCNet-style: docs whose text
    the corpus LM finds surprising are boilerplate, encoding noise, or
    off-distribution): (id, n_bigrams, nll_r) with nll_r =
    ROUND(-AVG(ln((c(w1,w2) + 1) / (c(w1) + V))), 6). Docs with fewer
    than two tokens have no bigrams and emit no row (explode semantics).

    Scale shape (100 TB): train and score in ONE pipeline over the same
    exploded bigrams - a (w1, w2) count aggregation, a unigram count
    aggregation, the V scalar as a broadcast 1-row cross join (no driver
    collect), then two key-joins back and a per-doc mean. Everything is
    corpus-linear; stopword bigram keys are skewed, which AQE skew-join
    splitting absorbs (session.py). c(w1) is the TOTAL unigram count
    (not the context count) - a documented simplification shared with
    the oracle, irrelevant to ranking on real corpora."""
    toks = df.select(
        F.col(id_col).alias("id"), words(F.col(text_col)).alias("l")
    ).where(F.size("l") >= 2)
    bg = toks.select(
        "id",
        F.posexplode(F.slice("l", 1, F.size("l") - 1)).alias("i", "w1"),
        F.col("l"),
    ).select(
        "id", "i", "w1",
        # posexplode's i is 0-based; element_at is 1-based: successor = i+2
        F.element_at(F.col("l"), F.col("i") + 2).alias("w2"),
    )
    allw = df.select(F.explode(words(F.col(text_col))).alias("w1"))
    uni = allw.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    bi = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    v = uni.agg(F.count(F.lit(1)).alias("v"))
    scored = (
        bg.join(bi, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "id",
            F.log((F.col("cb") + 1) / (F.col("cu") + F.col("v"))).alias("lp"),
        )
    )
    # Deterministic per-doc mean WITHOUT giving up map-side combine:
    # sum the log-probs as DECIMAL(38,18). Decimal addition is exact, so
    # the partial-aggregation order (which follows partitioning) cannot
    # change the result - bit-stable run to run, unlike a double F.avg.
    # (An earlier form collect_list'd (pos, lp) structs and folded them
    # in position order; that was equally deterministic but shuffled
    # every per-bigram struct and cost ~15x. The decimal sum keeps the
    # aggregation a plain hash agg with partial combine.) The final
    # double division + ROUND(6) is a single operation on identical
    # inputs; vs the DuckDB oracle the usual round-6 ulp tolerance of
    # avg-based queries still applies (the oracle's own summation order
    # is unspecified).
    per_doc = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(F.col("lp").cast("decimal(38,18)")).alias("slp"),
    )
    return per_doc.select(
        "id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round(
            (-F.col("slp").cast("double")) / F.col("n_bigrams"), 6
        ).alias("nll_r"),
    )


def collocations(
    df: DataFrame,
    min_count: int = 5,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """PMI collocation mining: the corpus-level phrase detector (the
    word2vec-phrases / NLTK-collocations shape) - score every adjacent
    word pair by pointwise mutual information
    ``ln((c12/B) / ((c1/N) * (c2/N)))`` and keep the top-k with support
    >= ``min_count``. Output (w1, w2, c12, pmi_r), pmi desc / pair asc.

    Scale shape: two exploded count aggregations (unigrams, bigrams - both
    map-side combinable), two key-joins of the bigram counts against the
    unigram table (vocab-sized; AQE broadcasts when it fits), corpus
    totals as 1-row broadcast crossJoins, and a TakeOrdered top-k - no
    global sort materialization, no driver collection."""
    from ..functions.texthash import word_bigrams

    toks = words(F.col(text_col))
    uni = df.select(F.explode(toks).alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_tot = uni.agg(F.count(F.lit(1)).alias("nt"))
    bi = df.select(F.explode(word_bigrams(toks)).alias("bg"))
    b_tot = bi.agg(F.count(F.lit(1)).alias("bt"))
    bc = (
        bi.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c12"))
        .where(F.col("c12") >= min_count)
        .select(
            F.split(F.col("bg"), " ").getItem(0).alias("w1"),
            F.split(F.col("bg"), " ").getItem(1).alias("w2"),
            "c12",
        )
    )
    ua = uc.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    ub = uc.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            (F.col("c12").cast("double") / F.col("bt"))
            / (
                (F.col("c1").cast("double") / F.col("nt"))
                * (F.col("c2").cast("double") / F.col("nt"))
            )
        ),
        6,
    )
    return (
        bc.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(b_tot))
        .select("w1", "w2", F.col("c12").cast("long").alias("c12"), pmi.alias("pmi_r"))
        .orderBy(F.col("pmi_r").desc(), "w1", "w2")
        .limit(k)
    )


def tfidf_keywords(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k TF-IDF keywords - the metadata-extraction op
    (tagging / indexing / dataset cards): score = tf * ln(N / df), round-6,
    rank by (score desc, term asc) WITHIN each document.

    Scale shape: one (doc, term) count aggregation (map-side combinable),
    document frequencies from a vocab-sized rollup of that same table
    (key-join back, AQE-broadcast when it fits), N as a 1-row broadcast,
    and a per-document window - partitioned by doc_id, never global."""
    toks = words(F.col(text_col))
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(toks).alias("w"))
        .groupBy("id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("nn"))
    scored = (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "id",
            "w",
            F.col("tf").cast("long").alias("tf"),
            F.round(
                F.col("tf") * F.log(F.col("nn").cast("double") / F.col("df")), 6
            ).alias("score_r"),
        )
    )
    from pyspark.sql import Window as _W

    win = _W.partitionBy("id").orderBy(F.col("score_r").desc(), F.col("w").asc())
    return (
        scored.withColumn("rk", F.row_number().over(win).cast("long"))
        .where(F.col("rk") <= k)
        .select(F.col("id").alias(id_col), F.col("w").alias("term"), "tf", "score_r", "rk")
    )


def tfidf_term_weights(
    df: DataFrame,
    gram_k: int = 3,
    df_cap: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The weighted posting list (id, term, w) behind the sparse cosine
    join: w = ROUND(tf * ln(N / df), 6) as DECIMAL(18,6) - decimal so
    every downstream dot/norm SUM is exact and order-free (the lm_score
    decimal-sum discipline). Terms with document frequency above
    ``df_cap`` are dropped (idf ~ 0 and their posting lists are the
    quadratic skew hazard - the DISCO/stop-term bound).

    Materialized once per session per semantic plan (the memoized dedup
    shingle-index idiom, shared via dedup._memoized_checkpoint): the
    posting list feeds three consumers in the cosine join (both sides of
    the term self-join and the norm rollup); without materialization
    each consumer replays the tokenize+count+df pipeline - measured 4
    redundant corpus passes - and without the memo every CALL re-ran the
    corpus job and leaked another checkpoint for the session lifetime.
    At cluster scale this is the posting list you'd persist/bucket once
    anyway."""
    from .dedup import _memoized_checkpoint

    tf = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(word_kgrams(words(F.col(text_col)), gram_k)).alias("s"),
        )
        .groupBy("id", "s")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("nn"))
    plan = (
        tf.join(dfreq, "s")
        .where(F.col("df") <= df_cap)
        .crossJoin(F.broadcast(n))
        .select(
            "id",
            "s",
            F.round(
                F.col("tf") * F.log(F.col("nn").cast("double") / F.col("df")), 6
            )
            .cast("decimal(18,6)")
            .alias("w"),
        )
    )
    return _memoized_checkpoint("tfidf_stats", plan)


def tfidf_cosine_pairs(
    df: DataFrame,
    topk: int = 20,
    gram_k: int = 3,
    df_cap: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sparse-vector cosine similarity join over TF-IDF weighted word
    k-grams, computed through an INVERTED INDEX (posting-list self-join
    keyed by term) - the document-pair similarity engine for corpora with
    no dense embeddings, and the TF-IDF twin of the Jaccard dedup family
    (weighted overlap instead of set overlap).

    Algebra, engine-portable by construction:
      w(d,t)  = ROUND(tf * ln(N / df), 6) as DECIMAL(18,6)  - one round-6
                ln like every scored ranking in the battery;
      dot     = SUM(w_a * w_b) over shared terms   - DECIMAL products and
                sums are EXACT, so the only order-dependent float sum in
                the operator is eliminated (the lm_score decimal-sum
                discipline);
      cos_r   = ROUND(dot / (norm_a * norm_b), 6)  - norms are sqrt of
                exact decimal sums of squares.

    ``df_cap`` drops terms whose document frequency exceeds the cap from
    BOTH weights and postings (their idf ~ 0, and their posting lists are
    the quadratic skew hazard at 100 TB - the DISCO/stop-term bound); on
    this corpus every k-gram is far below the cap, so results are exact
    while the dial stays exercised. Global top-k by (cos_r desc, ids) is
    a TakeOrderedAndProject, never a full sort.
    """
    wts = tfidf_term_weights(df, gram_k, df_cap, id_col, text_col)
    nrm = wts.groupBy("id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nr")
    )
    dots = (
        wts.alias("a")
        .join(wts.alias("b"), "s")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).cast("double").alias("dot"))
    )
    return (
        dots.join(nrm.select(F.col("id").alias("id_a"), F.col("nr").alias("na")), "id_a")
        .join(nrm.select(F.col("id").alias("id_b"), F.col("nr").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cos_r"),
        )
        .orderBy(F.desc("cos_r"), "id_a", "id_b")
        .limit(topk)
    )


def vocab_coverage(
    df: DataFrame,
    vocab_k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document vocabulary coverage / OOV-rate audit against the
    corpus top-``vocab_k`` word vocabulary - the tokenizer-fit signal a
    curation pipeline reads before committing to a vocab (documents with
    high OOV mass are mis-tokenized garbage, code, or out-of-domain).

    Two bounded passes: global word counts roll up to a top-k vocab
    (count desc, word asc - a TakeOrderedAndProject, k rows), which
    broadcast-joins back onto the per-document token explode; coverage =
    in-vocab tokens / tokens, round-6. Output (doc_id, n_tokens,
    n_in_vocab, oov_r)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(words(F.col(text_col))).alias("w"),
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(vocab_k)
        .select("w", F.lit(1).alias("in_v"))
    )
    per_tok = toks.join(F.broadcast(vocab), "w", "left")
    return (
        per_tok.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.coalesce("in_v", F.lit(0))).cast("long").alias("n_in_vocab"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "n_in_vocab",
            F.round(1.0 - F.col("n_in_vocab") / F.col("n_tokens"), 6).alias("oov_r"),
        )
    )


#: winnowing parameters (Schleimer/Wilkerson/Aiken, SIGMOD'03): token
#: k-gram size and window width. The guarantee: every run of WINNOW_W
#: consecutive gram positions contributes >= 1 selected fingerprint, so
#: any shared substring of k + w - 1 tokens is caught by fingerprint
#: intersection - the local, position-robust dedup/plagiarism primitive
#: (MOSS), complementary to the global rolling hash in fingerprints().
WINNOW_K = 4
WINNOW_W = 5


def _winnow_base(df, id_col, text_col, k, w):
    """(id, hs = k-gram 60-bit hash array), docs with >= w grams only."""
    toks = words(F.col(text_col))
    hs_expr = F.transform(word_kgrams(toks, k), lambda g: md5_int60(g))
    return df.select(F.col(id_col), hs_expr.alias("hs")).where(
        F.size("hs") >= w
    )


def _winnow_marks(w):
    """Array column of struct(p, h) - the robust-winnowing selections
    over the row's ``hs`` array (see winnow_fingerprints for the
    nearest-smaller-distance criterion)."""
    n = F.size("hs")

    def h_at(i):  # zero-based position -> hash (element_at is 1-based)
        return F.element_at(F.col("hs"), (i + F.lit(1)).cast("int"))

    def nearest(p, hp, sign, strict):
        """Min distance d in [1, w-1] to a smaller (strict) / <= (not
        strict) hash at p + sign*d, else w. aggregate scans d ascending;
        the acc == w guard freezes the first (nearest) hit."""
        cmp = (lambda x: x < hp) if strict else (lambda x: x <= hp)
        probe = lambda d: p + d if sign > 0 else p - d
        inb = (
            (lambda d: probe(d) < n) if sign > 0 else (lambda d: probe(d) >= 0)
        )
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(w - 1)),
            F.lit(w).cast("int"),
            lambda acc, d: F.when(
                (acc == F.lit(w)) & inb(d) & cmp(h_at(probe(d))),
                d.cast("int"),
            ).otherwise(acc),
        )

    def mark(p):
        hp = h_at(p)
        pl = nearest(p, hp, -1, strict=True)
        nl = nearest(p, hp, +1, strict=False)
        lo = F.greatest(F.lit(0), p - pl + 1)
        hi = F.least(n - w, p + nl - w)
        return F.struct(p.alias("p"), hp.alias("h"), (lo <= hi).alias("sel"))

    return F.filter(
        F.transform(F.sequence(F.lit(0), n - 1), mark), lambda s: s["sel"]
    )


def winnow_marked(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """(id_col, n_grams, marks = array<struct(p, h, sel)>): the
    robust-winnowing selections, localCheckpoint-memoized per session
    (the doc_shingle_arrays discipline; registry kind "winnow_marks") so
    text_winnow and dedup_winnow share ONE O(n*w) selection pass per
    corpus per session."""
    from .dedup import _memoized_checkpoint

    base = _winnow_base(df, id_col, text_col, k, w)
    plan = base.select(
        F.col(id_col),
        F.size("hs").cast("long").alias("n_grams"),
        _winnow_marks(w).alias("marks"),
    )
    return _memoized_checkpoint("winnow_marks", plan)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Robust-winnowing fingerprint selection, per document.

    For each document: hash the token k-grams (md5_int60, portable), then
    select, from every window of ``w`` consecutive gram hashes, the
    minimum - rightmost position on ties (ROBUST winnowing, so repeated
    hash runs don't over-select); de-duplicate selections across
    overlapping windows. Output one row per document with >= w grams:
    gram count, selected-fingerprint count, selection density over the
    n-w+1 windows, and a position-weighted checksum of the selected
    (position, hash) set - the checksum pins the exact selection, so an
    off-by-one in tie-breaking fails parity.

    Selection is evaluated WITHOUT materializing windows: position p is a
    rightmost window minimum iff, with pl = distance to the nearest
    STRICTLY smaller hash on the left and nl = distance to the nearest
    smaller-OR-EQUAL hash on the right (both capped at w),

        max(0, p - pl + 1) <= min(n - w, p + nl - w)

    i.e. some valid window start s keeps every left neighbor >= h_p and
    every right neighbor > h_p. Both distances only matter up to w, so
    the scan is O(n * w) pure array arithmetic per row - corpus-linear,
    zero shuffle, embarrassingly parallel (the fingerprints() discipline;
    the oracle replays the criterion as a bounded +-(w-1) self-join, a
    genuinely different formulation). Reference analogue: none - the
    reference has no content-fingerprint machinery; this extends its
    engine for training-data curation (SURVEY §7.1 M6).
    """
    marked = winnow_marked(df, id_col, text_col, k, w)
    marks = F.col("marks")
    checksum = F.aggregate(
        marks,
        F.lit(0).cast("long"),
        lambda acc, s: (acc + (s["h"] % FP_PRIME) * (s["p"] + 1))
        % F.lit(MERSENNE_31),
    )
    return marked.select(
        F.col(id_col),
        "n_grams",
        F.size(marks).cast("long").alias("n_fp"),
        F.round(F.size(marks) / (F.col("n_grams") - w + 1), 6).alias(
            "density_r"
        ),
        checksum.alias("fp_checksum"),
    )


#: cross-doc winnow matching: min shared fingerprints for a pair, and the
#: posting-list frequency cap (the family's skew dial - a fingerprint
#: selected in > df_cap documents is boilerplate and generates O(df^2)
#: pair rows; dropping it loses only pairs whose ONLY evidence is
#: corpus-wide boilerplate, cf. dedup.fuzzy_pairs df_cap)
WINNOW_MIN_SHARED = 2
WINNOW_DF_CAP = 64


def winnow_matches(
    df: DataFrame,
    min_shared: int = WINNOW_MIN_SHARED,
    df_cap: int = WINNOW_DF_CAP,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Cross-document winnowing match (the MOSS detector): pairs of
    documents sharing >= ``min_shared`` DISTINCT selected fingerprint
    hashes, with the shared count. By the coverage guarantee any common
    substring of k + w - 1 tokens contributes a shared fingerprint, so
    local plagiarism/quotation is caught position-robustly - the
    asymmetric complement to whole-doc Jaccard (dedup_ngram_jaccard)
    and fixed-grid spans (dedup_spans).

    Scale: per-doc selection is the zero-shuffle winnow pass; matching
    is ONE posting-list equi-join on the 60-bit hash feeding a map-side
    count aggregation (the containment_pairs 'count' strategy - no
    candidate materialization), with posting lists df-capped ahead of
    the join. Output (id_a, id_b, n_shared).
    """
    marked = winnow_marked(df, id_col, text_col, k, w)
    post = marked.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(
                F.transform(F.col("marks"), lambda s: s["h"])
            )
        ).alias("h"),
    )
    ok_h = (
        post.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= df_cap)
        .select("h")
    )
    # semi join rides the groupBy's hash partitioning on h - no second
    # shuffle of the posting rows' ids through an aggregation buffer
    capped = post.join(ok_h, "h", "left_semi")
    a = capped.select(F.col("id").alias("id_a"), "h")
    b = capped.select(F.col("id").alias("id_b"), "h")
    return (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def boilerplate_stats(
    df: DataFrame,
    k: int = 8,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Boilerplate exposure per document: the fraction of a document's
    word ``k``-gram positions covered by grams that occur in >= ``min_df``
    DISTINCT documents (headers, footers, license blocks, templated spam -
    the CCNet/RefinedWeb-style boilerplate signal, measured at the gram
    level rather than by removing whole documents).

    Output: (id, n_grams, n_boiler, boiler_frac) - one row per document;
    ``n_grams`` counts gram POSITIONS (len - k + 1, 0 for short docs) and
    ``n_boiler`` the positions whose gram is in the high-df set, so
    ``boiler_frac`` is directly the share of the text a boilerplate
    stripper would cut.

    Scale shape (100 TB): two corpus-linear passes over the gram stream -
    a (gram -> distinct-doc df) aggregation (for the default min_df=2
    the distinct-count collapses to the map-side-combinable
    min(id) != max(id), one g-keyed exchange of partials; for higher
    thresholds a per-gram-keyed distinct, never global) and a semi-join of gram
    positions against the high-df survivors (equi-join on the gram key;
    at deployment scale the join key would be a 64-bit gram hash -
    dictionary-width shuffle - with the string join kept here for exact
    SQL-oracle replay). No all-pairs, no windows, no driver state.

    The gram stream feeds both passes and is deliberately RECOMPUTED
    per consumer rather than localCheckpoint'd: a checkpoint won the
    isolated A/B (3.2 vs 3.97 s at sf0.1) but lost catastrophically
    in-battery (25 s) once the session's other memoized stores (shingle
    arrays, winnow marks, PQ codebooks) held the storage memory and the
    gram blocks thrashed to disk. Stateless recompute is two extra
    codegen scans - predictable under any memory pressure, which is the
    property that survives a shared 1000-executor cluster.
    """
    toks = words(F.col(text_col))
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_kgrams(toks, k)).alias("g"),
    )
    if min_df == 2:
        # count_distinct(id) >= 2 is exactly min(id) != max(id): a pure
        # map-side-combinable aggregate, so the df pass shuffles ONE
        # g-keyed exchange of (g, min, max) partials instead of the
        # distinct-count's two (the (g, id) incidence list itself -
        # corpus-scale rows keyed by the full gram string - never
        # crosses the network; optimization r19, guide §2.3/§2.4).
        boiler = (
            grams.groupBy("g")
            .agg(F.min("id").alias("_id_mn"), F.max("id").alias("_id_mx"))
            .where(F.col("_id_mn") != F.col("_id_mx"))
            .select("g")
        )
    else:
        boiler = (
            grams.groupBy("g")
            .agg(F.count_distinct("id").alias("df_docs"))
            .where(F.col("df_docs") >= min_df)
            .select("g")
        )
    n_boiler = (
        grams.join(boiler, "g", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.greatest(F.size(toks) - (k - 1), F.lit(0)).cast("long").alias("n_grams"),
    )
    return base.join(n_boiler, "id", "left").select(
        "id",
        "n_grams",
        F.coalesce(F.col("n_boiler"), F.lit(0)).cast("long").alias("n_boiler"),
        F.when(
            F.col("n_grams") > 0,
            F.round(F.coalesce(F.col("n_boiler"), F.lit(0)) / F.col("n_grams"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("boiler_frac"),
    )


def unigram_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Shannon entropy of the unigram (word) distribution:
    (id, n_tokens, n_distinct, entropy_r) with entropy in nats - the
    classic diversity/quality signal (low entropy = repetitive or
    templated text; degenerate spam sits near 0, natural prose near
    ln(vocab)). Complements ``repetition_scores`` (which looks at
    k-gram repeats) with a distribution-level statistic.

    Cross-engine float discipline (the lm_bigram/tfidf lineage): each
    term (c/n)*ln(c/n) is snapped to INTEGER NANONATS -
    round(term * 1e9) as a long - and the per-document sum is exact
    integer addition, so the fold order cannot flip a bit the way a
    float sum can. One cast back to double per document; the final
    negation adds +0.0 to canonicalize the signed zero a one-word
    document would otherwise produce (the sim_pca_gram r10 lesson).

    Scale shape (100 TB): ZERO shuffles - the whole statistic is a
    row-local higher-order array expression (distinct words x count
    via filter, O(distinct * n_tokens) per row, whole-stage codegen),
    the quality_scores/lang_id pattern. The oracle deliberately takes
    the OTHER road - explode to (doc, word) rows + GROUP BY - so
    parity is an algorithmic check, not a transliteration.
    """

    def _stats(toks):
        n = F.size(toks)
        # chained transforms bind the O(n) per-word count ONCE as an
        # element variable before the term uses it twice
        counts = F.transform(
            F.array_distinct(toks),
            lambda w: F.size(F.filter(toks, lambda x: x == w)),
        )
        terms = F.transform(
            counts,
            lambda c: F.round(
                (c / n) * F.log(c / n) * F.lit(1.0e9), 0
            ).cast("long"),
        )
        nanonats = F.aggregate(
            terms, F.lit(0).cast("long"), lambda acc, x: acc + x
        )
        return F.struct(
            n.cast("long").alias("n_tokens"),
            # size(counts) IS the distinct count (counts maps over
            # array_distinct) - reusing it saves a second O(n log n)
            # array_distinct pass per row (r19 review)
            F.size(counts).cast("long").alias("n_distinct"),
            F.round(
                -(nanonats.cast("double") / F.lit(1.0e9)) + F.lit(0.0), 6
            ).alias("entropy_r"),
        )

    # let-bind the token array behind a Generate barrier (quality_scores
    # pattern): the distinct/filter/fold chain uses it O(n_distinct) times
    base = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(F.array(words(F.col(text_col))), _stats)
        ).alias("e"),
    )
    return base.select(
        "id",
        F.col("e.n_tokens").alias("n_tokens"),
        F.col("e.n_distinct").alias("n_distinct"),
        F.col("e.entropy_r").alias("entropy_r"),
    )
