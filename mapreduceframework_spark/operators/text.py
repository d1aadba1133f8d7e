"""Text-analysis operators for training-data pipelines.

The reference's char-frequency client (SampleClient.cpp:32-66) is the
seed of this family; everything here stays in JVM whole-stage codegen
(pyspark.sql.functions only — no Python in the hot path), so each
operator is a single scan + optional O(groups) shuffle at any scale.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Deterministic marker-word sets per language for the heuristic
# language-ID scorer. On real corpora these would be stopword tables;
# the mechanism (per-language token-hit scoring, argmax) is the operator.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is", "it")

# BPE-ish pre-tokenization: word pieces, numbers, or single non-space
# symbols — the GPT-2 pretokenizer's shape without the lookbehinds.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def whitespace_token_count(text: Column) -> Column:
    """Number of whitespace-delimited tokens."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    ).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """Count of BPE-ish pre-tokens (regexp_count stays JVM-side)."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN)).cast("long")


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not alphanumeric or whitespace."""
    n = F.length(text)
    n_punct = n - F.length(F.regexp_replace(text, r"[^A-Za-z0-9\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(n_punct / n)


def _membership(values: tuple[str, ...]):
    """Single-arg lambda factory for F.filter. NB: a default-arg idiom
    (``lambda w, m=values: ...``) must NOT be used here — PySpark binds
    2-parameter lambdas as (element, index) and the captured value
    silently becomes the array index."""
    return lambda w: w.isin(*values)


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    """Fraction of whitespace tokens that are stopwords."""
    words = F.split(F.trim(text), r"\s+")
    hits = F.size(F.filter(words, _membership(stopwords)))
    total = F.size(words)
    return F.when(total == 0, F.lit(0.0)).otherwise(hits / total)


def mean_word_length(text: Column) -> Column:
    words = F.split(F.trim(text), r"\s+")
    total = F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.when(F.size(words) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(words)
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, low punctuation,
    some stopword mass — the C4-style cheap filter, all codegen'd."""
    len_term = F.least(F.length(text) / F.lit(200.0), F.lit(1.0))
    punct_term = 1.0 - F.least(punct_ratio(text) * 4, F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 5, F.lit(1.0))
    return F.round((len_term + punct_term + stop_term) / 3.0, 6)


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-hit counts over whitespace tokens."""
    words = F.split(F.trim(F.lower(text)), r"\s+")
    return {
        lang: F.size(F.filter(words, _membership(markers))).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """Argmax language by marker hits; deterministic tie-break on the
    language code; 'und' when nothing matches."""
    scores = lang_scores(text)
    pairs = F.array(
        *[
            F.struct(c.alias("score"), F.lit(lang).alias("lang"))
            for lang, c in sorted(scores.items())
        ]
    )
    best = F.array_max(pairs)  # struct compare: score, then lang
    return F.when(best["score"] <= 0, F.lit("und")).otherwise(best["lang"])


# Hashed-feature linear classifier (the fastText-style bag-of-words
# quality scorer shape: hashing trick -> bucket weights -> mean score).
# Weights are DYADIC rationals (k/16, exactly representable in binary
# floating point) so a sum of them is EXACT in any association order —
# the Spark sequential fold and the oracle's list_sum cannot diverge.
CLASSIFIER_BUCKETS = 32
CLASSIFIER_WEIGHTS: tuple[float, ...] = tuple(
    ((j * 37) % 19 - 9) / 16.0 for j in range(CLASSIFIER_BUCKETS)
)


def token_bucket(w: Column, buckets: int = CLASSIFIER_BUCKETS) -> Column:
    """Hashing-trick feature bucket: first 8 hex chars of md5(token) as
    an integer, mod ``buckets``. md5 is bit-identical across engines
    (unlike engine-native ``hash()``), so the bucket assignment is
    portable; see :func:`token_bucket_sql` for the oracle rendering."""
    return (
        F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long") % buckets
    )


def token_bucket_sql(w: str, buckets: int = CLASSIFIER_BUCKETS) -> str:
    """DuckDB rendering of :func:`token_bucket` (kept adjacent so the
    two formulas cannot drift apart)."""
    return f"(('0x' || substring(md5({w}), 1, 8))::BIGINT % {buckets})"


def classifier_weights_sql() -> str:
    """The weight table as a DuckDB DOUBLE[] literal. ``repr`` of a
    dyadic float is exact decimal, so the literal round-trips bit-for-
    bit; the explicit cast stops DuckDB typing it DECIMAL[] (whose
    arithmetic would diverge from Spark doubles)."""
    vals = ", ".join(repr(x) for x in CLASSIFIER_WEIGHTS)
    return f"[{vals}]::DOUBLE[]"


def rolling_fingerprint(text: Column, modulus: int = 1_000_000_007) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    whitespace tokens, h = (h*31 + len(w)*997 + ascii(w[0])) mod M.

    Stays in codegen via F.aggregate; mod at every step keeps the value
    in BIGINT range (ANSI mode would error on overflow otherwise).
    """
    words = F.split(F.trim(text), r"\s+")
    return F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: F.pmod(
            acc * 31 + F.length(w) * 997 + F.ascii(F.substring(w, 1, 1)),
            F.lit(modulus),
        ),
    )


# --------------------------------------------------------------------------
# Exact BPE tokenization (text_bpe_tokenize / pack_bpe_chunks)
# --------------------------------------------------------------------------

# The engine's published subword merge table: 48 byte-pair merges
# learned offline with the classic BPE trainer (Sennrich et al. 2016 —
# count adjacent symbol pairs over the word-frequency table, merge the
# most frequent, repeat; ties broken count-DESC then pair-ASC) on the
# synthetic corpus' word frequencies. Order IS the tokenizer: merges
# apply rank by rank, exactly like a GPT-2-style encoder consuming
# merges.txt. Model-sized by definition (a real table is 32k-100k rows
# and ships broadcast — here it folds into the expression tree, the
# text_quality_classifier precedent).
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"), ("f", "i"), ("fi", "l"), ("fil", "t"),
    ("filt", "er"), ("a", "l"), ("al", "l"), ("m", "all"),
    ("s", "mall"), ("g", "e"), ("l", "ow"), ("mer", "ge"),
    ("s", "low"), ("c", "t"), ("ct", "or"), ("d", "er"),
    ("e", "ctor"), ("or", "der"), ("v", "ector"),
)

# Unit delimiter for the in-string token representation. '|' cannot
# survive into the encoded text: encoding strips it first (tokenizer
# normalization, stated in the query contract).
_BPE_D = "|"


def bpe_encode(text: Column) -> Column:
    """Exact BPE encoding of ``text`` as a delimited unit string.

    Representation: every character becomes a ``|c|`` unit (so units
    abut as ``||`` and the string starts/ends with a single ``|``);
    merge rank r rewrites every left-to-right non-overlapping
    ``|a||b|`` into ``|ab|``. Plain string ``replace`` continues
    scanning AFTER each replacement, which is exactly BPE's
    merge-all-occurrences-left-to-right pass, and applying ranks in
    order is exactly the greedy encoder: a merge can only create pairs
    involving its own output token, which every later-rank pattern —
    never an earlier one — may consume. Word boundaries need no
    special casing: spaces/digits/punctuation are units no merge pair
    contains, so letter merges cannot cross them.

    Scale shape: 1 + len(BPE_MERGES) row-local string passes, all
    inside whole-stage codegen — zero Python, zero shuffle, and the
    merge table travels inside the plan (broadcast-equivalent)."""
    s = F.regexp_replace(F.lower(text), r"\|", "")
    # (?s) is load-bearing: without DOTALL, Java's '.' skips \n and \r
    # (and RE2 skips only \n), so newline chars silently escape the
    # unit representation — and differently per engine.
    s = F.regexp_replace(s, "(?s)(.)", "|$1|")
    for a, b in BPE_MERGES:
        s = F.replace(
            s,
            F.lit(f"{_BPE_D}{a}{_BPE_D}{_BPE_D}{b}{_BPE_D}"),
            F.lit(f"{_BPE_D}{a}{b}{_BPE_D}"),
        )
    return s


def bpe_encode_sql(expr: str) -> str:
    """DuckDB rendering of :func:`bpe_encode` — same passes in the same
    order (DuckDB regexp_replace needs the explicit 'g' flag; replace()
    is replace-all in both engines)."""
    s = (
        f"regexp_replace(regexp_replace(lower({expr}), '\\|', '', 'g'), "
        f"'(?s)(.)', '|\\1|', 'g')"
    )
    for a, b in BPE_MERGES:
        s = f"replace({s}, '|{a}||{b}|', '|{a}{b}|')"
    return s


def bpe_token_count(text: Column) -> Column:
    """Exact BPE token count of ``text``: total units in the encoded
    string minus whitespace units (whitespace separates words; it is
    not a token). Unit count = count('||') + 1 = (len - len(with '||'
    collapsed to '|')) + 1 for non-empty input."""
    s = bpe_encode(text)
    units = (
        F.length(s) - F.length(F.replace(s, F.lit("||"), F.lit("|"))) + 1
    )
    t = F.lower(text)
    ws = F.length(t) - F.length(F.regexp_replace(t, "[ \t\n\r]", ""))
    return (
        F.when(F.length(s) == 0, F.lit(0))
        .otherwise(units - ws)
        .cast("long")
    )


def bpe_token_count_sql(expr: str) -> str:
    s = bpe_encode_sql(expr)
    return (
        f"(CASE WHEN length({s}) = 0 THEN 0 "
        f"ELSE length({s}) - length(replace({s}, '||', '|')) + 1 "
        f"- (length(lower({expr})) "
        f"   - length(regexp_replace(lower({expr}), '[ \\t\\n\\r]', '', 'g'))) "
        f"END)::BIGINT"
    )


# --------------------------------------------------------------------------
# Realistic-vocab encoder seam (the 50k-merge scale path)
# --------------------------------------------------------------------------
#
# bpe_encode folds the merge table into 1 + len(BPE_MERGES) codegen
# string passes — perfect at 48 merges, impossible at a production 50k
# (the expression tree alone would break Catalyst). The deployable
# shape keeps text_bpe_vocab_counts' plan (encode DISTINCT words once,
# join counts back) and swaps the per-word encoder for the functions
# below: the standard min-rank greedy merge loop (Sennrich apply_bpe /
# GPT-2 encoder), Arrow-batched over the O(|vocab|) word table. The
# loop is O(applied merges x word length) per word with dict-rank
# lookups — independent of the merge-table size, so 50k merges cost
# the same as 48. Equivalence with the expression encoder on the
# 48-merge table is pinned in tests/test_text_semantics.py.
#
# MEASURED crossover (BASELINE.md, "Arrow-BPE crossover", round 11):
# on a 20k-word vocab table the codegen encoder wins at 48 merges
# (0.48x Arrow), Arrow overtakes at ~128 merges, is 16x faster by
# 1024 — where the expression tree also needs -Xss64m to convert at
# all (default driver stack overflows at M=512). Keep codegen below
# ~100 merges; take this path for anything vocabulary-sized.

_BPE_RANK: dict[tuple[str, str], int] = {
    pair: r for r, pair in enumerate(BPE_MERGES)
}
_COUNTED_WS = " \t\n\r"  # the separator class bpe_token_count subtracts


@functools.lru_cache(maxsize=65536)
def _bpe_word_tokens(word: str) -> int:
    """Token count of one lowercase letter run via min-rank greedy
    merging against the module merge table. Cached: the scale path
    feeds DISTINCT words, and raw-text callers repeat words with
    Zipfian frequency."""
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for pair in zip(syms, syms[1:]):
            r = _BPE_RANK.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, pair
        if best_pair is None:
            break
        a, b = best_pair
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms)


def bpe_token_count_py(text: str) -> int:
    """Pure-Python :func:`bpe_token_count`: lowercase, strip the '|'
    delimiter, encode maximal [a-z] runs via min-rank BPE, count every
    other character as one token except the four counted whitespace
    separators. No sentinel character: a literal NUL in the input is a
    regular one-token unit, exactly as in the expression encoder."""
    t = text.lower().replace(_BPE_D, "")
    n, start = 0, -1
    for i, ch in enumerate(t):
        if "a" <= ch <= "z":
            if start < 0:
                start = i
            continue
        if start >= 0:
            n += _bpe_word_tokens(t[start:i])
            start = -1
        if ch not in _COUNTED_WS:
            n += 1
    if start >= 0:  # flush a trailing letter run
        n += _bpe_word_tokens(t[start:])
    return n


def bpe_token_count_arrow():
    """Arrow-batched pandas-UDF form of :func:`bpe_token_count` — the
    encoder you deploy on the distinct-word table when the merge table
    is production-sized (see the seam comment above). Returns a fresh
    UDF object; apply as ``bpe_token_count_arrow()(col)``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _count(texts: pd.Series) -> pd.Series:
        # NULL in -> NULL out, mirroring the expression encoder's
        # null propagation (0 would silently change row semantics).
        return texts.map(
            lambda t: None if t is None else bpe_token_count_py(t)
        ).astype("Int64")

    return _count
