"""Text canonicalization + shingling + text-analysis columns — all Catalyst
built-ins (JVM side, codegen'd; zero Python in the hot path).

Reference analog: the std_* cascade (std_uppercase R/standardizers.R:191-205,
std_squish :218-227, std_remove_special :229-287, std_replace_blank
:343-379) that canonicalizes owner names before blocking; here the payload
is captions/documents.  The char-3-gram tokenization mirrors
quanteda::tokens(what="character") + tokens_ngrams(n=3) at
R/deduplicaters.R:318-327 — expressed as sequence/transform array ops.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokens that mean "no value" in the reference (std_replace_blank,
# R/standardizers.R:343-379); applied to captions for parity of semantics.
BLANK_RE = r"^(NONE|N/A|NA|UNKNOWN|SAME|NULL|)$"

STOPWORDS = [
    "the", "a", "an", "of", "and", "or", "in", "on", "to", "is", "for",
    "with", "at", "by", "from", "as", "it", "this", "that",
]


def normalize_text(col: Column) -> Column:
    """lower -> non-alnum runs to single space -> trim.

    MUST stay in sync with synth.normalize_text (python mirror used by the
    golden oracle) — tested for equality in tests/test_text.py.
    """
    return F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))


def null_if_blank(col: Column) -> Column:
    """Reference std_replace_blank: placeholder tokens -> NULL so they never
    become (hot) blocking keys (R/standardizers.R:343-379)."""
    return F.when(F.upper(F.trim(col)).rlike(BLANK_RE), F.lit(None)).otherwise(col)


def char_shingles(col: Column, k: int = 3) -> Column:
    """Distinct char k-shingles of the *normalized* text, as array<string>.

    Pure builtins: sequence + transform + substring + array_distinct.
    Short strings (len <= k) yield a single whole-string shingle, matching
    synth.shingle_set.
    """
    t = normalize_text(col)
    n = F.length(t)
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1))),
        lambda i: t.substr(i, F.lit(k)),
    )
    return F.when(n <= F.lit(0), F.array().cast("array<string>")).otherwise(
        F.array_distinct(shingles)
    )


def jaccard_arrays(a: Column, b: Column) -> Column:
    """Exact Jaccard of two string arrays (built-ins; used by the verify
    stage — reference analog: textstat_simil exact cosine verify,
    R/deduplicaters.R:342-346)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union <= 0, F.lit(1.0)).otherwise(inter.cast("double") / union.cast("double"))


def token_count(col: Column) -> Column:
    """Whitespace token count (text-analysis surface)."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


# GPT-2-style pre-tokenizer split, restricted to syntax shared by Java
# regex (Spark) and RE2 (DuckDB): contraction suffixes, optional-space
# letter runs, digit runs, punctuation runs, whitespace runs.  The real
# GPT-2 pattern's `\s+(?!\S)` lookahead is not RE2-expressible; the
# practical effect (trailing-space attachment) does not change counts.
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(col: Column) -> Column:
    """BPE-ish token count: pieces of the GPT-2 pre-tokenizer split,
    whitespace-only pieces excluded (they merge into neighbors in real
    BPE).  The piece count upper-bounds (and at typical English text
    closely tracks ~0.75x) the true merged-BPE token count without
    needing a vocab file — the standard budget heuristic for training-
    data accounting.  Pure JVM regexp (codegen'd), no UDF."""
    pieces = F.regexp_extract_all(col, F.lit(BPE_SPLIT_RE), 0)
    # rlike(\S), not length(trim(p)) > 0: Spark's trim strips only the
    # space character, so "\t"/"\n" pieces would survive and diverge
    # from the oracle's regexp_matches(p, '\S') semantics.
    return F.size(F.filter(pieces, lambda p: p.rlike(r"\S")))


def winnow_fingerprints(col: Column, k: int = 5, w: int = 4) -> Column:
    """Winnowing document fingerprint (Schleimer/Wilkerson/Aiken,
    MOSS): the distinct set of per-window-minimal k-grams of the
    normalized text, one selection per sliding window of `w` grams.
    Guarantee: any shared run of >= w+k-1 chars between two documents
    contributes >= 1 shared fingerprint.

    Selection key is the lexicographic gram itself so the operator is
    engine-portable (the DuckDB oracle computes the identical set).

    Implementation: vectorized Arrow pandas UDF (guide §4.2).  The
    Catalyst-expression form (`winnow_fingerprints_expr`, the test
    oracle in tests/oracles.py) evaluates the window minima through
    interpreted higher-order lambdas — O(n·w)
    interpreted string comparisons per document was the single most
    expensive projection in the bench (14 s of the sf0.1 headline).
    Here each document's k-grams pack into big-endian uint64 codes
    (normalized text is ascii [a-z0-9 ] and k <= 8, so the packing is
    injective AND order-preserving: numeric order == lexicographic gram
    order), the sliding-window minimum is one numpy reduction, and
    np.unique returns the sorted distinct picks — bit-identical output,
    pinned against the expression twin in tests/test_text.py.  k > 8
    does not pack and raises ValueError."""
    return _winnow_udf(k, w, decode=True)(col)


def winnow_codes(col: Column, k: int = 5, w: int = 4) -> Column:
    """`winnow_fingerprints` as array<bigint>: the same sorted distinct
    picks left as their packed codes (ascii grams keep the sign bit
    clear, so int64 order is gram order).  The winnow tier blocks and
    verifies over these integer codes instead of strings."""
    return _winnow_udf(k, w, decode=False)(col)


def _winnow_udf(k: int, w: int, decode: bool):
    from pyspark.sql.types import ArrayType, LongType, StringType

    from who_owns_mass_processing_spark.synth import normalize_text as pynorm

    if k > 8:
        raise ValueError(f"winnow grams pack into 8 bytes: k={k} > 8")

    @F.pandas_udf(ArrayType(StringType() if decode else LongType()))
    def _udf(texts: pd.Series) -> pd.Series:
        out: list = []
        for t in texts:
            raw = pynorm(t or "").encode("ascii", "ignore")
            n = len(raw)
            if n < k:
                out.append([])
                continue
            buf = np.frombuffer(raw, dtype=np.uint8)
            sw = np.lib.stride_tricks.sliding_window_view(buf, k)
            wide = np.zeros((sw.shape[0], 8), dtype=np.uint8)
            wide[:, :k] = sw
            # big-endian u64 view -> native value: numeric order ==
            # lexicographic order of the (equal-length) grams
            codes = wide.view(np.dtype(">u8")).ravel().astype(np.uint64)
            if codes.shape[0] <= w:
                picks = codes.min(keepdims=True)
            else:
                picks = np.lib.stride_tricks.sliding_window_view(codes, w).min(axis=1)
            uniq = np.unique(picks)  # sorted ascending == array_sort order
            if not decode:
                out.append(uniq.astype(np.int64))
                continue
            # decode: big-endian bytes, trailing NUL padding stripped by
            # the S8 view (grams are [a-z0-9 ] — never contain \x00)
            out.append(
                [b.decode("ascii") for b in uniq.astype(">u8").view("S8").ravel().tolist()]
            )
        return pd.Series(out)

    return _udf


def word_tokens(col: Column) -> Column:
    return F.filter(F.split(normalize_text(col), " "), lambda w: F.length(w) > 0)


def stopword_ratio(col: Column) -> Column:
    toks = word_tokens(col)
    stops = F.filter(toks, lambda w: w.isin(*STOPWORDS))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.size(stops).cast("double") / F.size(toks).cast("double")
    )


def quality_score(col: Column) -> Column:
    """Heuristic doc-quality score in [0,1]: length band + alnum density +
    mean word length band. Deterministic and SQL-mirrorable (oracle)."""
    n = F.length(col)
    alnum = F.length(F.regexp_replace(col, r"[^A-Za-z0-9]", ""))
    density = F.when(n == 0, F.lit(0.0)).otherwise(alnum.cast("double") / n.cast("double"))
    toks = word_tokens(col)
    mean_len = F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)).cast("double")
        / F.size(toks).cast("double")
    )
    len_band = F.when(n < 20, F.lit(0.2)).when(n < 100, F.lit(0.6)).otherwise(F.lit(1.0))
    wl_band = F.when((mean_len >= 3.0) & (mean_len <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round((len_band * 0.4 + density * 0.4 + wl_band * 0.2), 6)


def dup_token_fraction(col: Column) -> Column:
    """Repetition signal (Gopher-rule family): fraction of word tokens
    that are repeats of an earlier token, 1 - distinct/total."""
    toks = word_tokens(col)
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n.cast("double"),
            6,
        )
    )


def top_bigram_fraction(col: Column) -> Column:
    """Repetition signal (Gopher-rule family): fraction of word bigrams
    equal to the single most frequent bigram — near-1 on boilerplate /
    looping text.  (Gopher's character-fraction variant is a trivial
    recombination; the bigram-count form keeps the oracle exact.)

    Per-row array work only, O(n log n): the modal bigram's count equals
    the longest run of equal adjacent elements in the SORTED bigram
    array, found with one linear `aggregate` fold.  (The previous
    distinct x filter form was O(distinct^2) per row — a 100k-token
    document would do ~10^10 comparisons in a single task, a straggler
    at scale; pytest pins the rewrite to the quadratic form's values
    and bounds its runtime on a 100k-token doc.)  No UDF, no shuffle.

    Both the token array and the bigram array are let-bound (the
    winnow_fingerprints array-wrap idiom): a direct reference inside a
    transform lambda is inlined and re-evaluated per element — the
    unbound token array alone re-split the whole document once per
    bigram, O(n^2) before the counting even started."""

    # bg bound once; bigrams are never empty strings (two non-empty
    # tokens joined by a space), so the "" initial prev can never
    # extend a run
    def frac_of(bg: Column) -> Column:
        return F.when(F.size(bg) == 0, F.lit(0.0)).otherwise(
            F.round(
                F.aggregate(
                    F.array_sort(bg),
                    F.struct(
                        F.lit("").alias("prev"),
                        F.lit(0).alias("run"),
                        F.lit(0).alias("best"),
                    ),
                    lambda acc, x: F.struct(
                        x.alias("prev"),
                        F.when(x == acc["prev"], acc["run"] + 1)
                        .otherwise(F.lit(1))
                        .alias("run"),
                        F.greatest(
                            acc["best"],
                            F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                                F.lit(1)
                            ),
                        ).alias("best"),
                    ),
                    lambda acc: acc["best"],
                ).cast("double")
                / F.size(bg).cast("double"),
                6,
            )
        )

    def from_toks(tk: Column) -> Column:
        bigrams = F.when(
            F.size(tk) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(tk, i), F.element_at(tk, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.element_at(F.transform(F.array(bigrams), frac_of), 1)

    return F.element_at(F.transform(F.array(word_tokens(col)), from_toks), 1)


def fingerprint_md5(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (exact-dup key).
    Reference analog: dedupe_naive's identical-standardized-name key
    (R/deduplicaters.R:208-223)."""
    return F.md5(normalize_text(col))


def lang_id(col: Column) -> Column:
    """Tiny n-gram/stopword language heuristic -> 2-letter code or 'und'.

    A deliberately simple, SQL-mirrorable scorer: counts hits of per-language
    marker words; ties broken by fixed language order (en,de,fr,es,pt).
    """
    markers = {
        "en": ["the", "and", "of", "with"],
        "de": ["der", "und", "die", "nicht"],
        "fr": ["le", "la", "et", "les"],
        "es": ["el", "los", "las", "una"],
        "pt": ["o", "os", "uma", "nao"],
    }
    toks = word_tokens(col)

    def hits(words: list[str]) -> Column:
        return F.size(F.filter(toks, lambda w: w.isin(*words)))

    scores = [(lang, hits(ws)) for lang, ws in markers.items()]
    best = scores[0][1]
    for _, s in scores[1:]:
        best = F.greatest(best, s)
    out = F.lit("und")
    for lang, s in reversed(scores):  # reversed => earlier langs win ties
        out = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out
