"""Text-analysis column functions for large-scale training-data pipelines.

Everything here is a pure ``Column`` expression over built-in
``pyspark.sql.functions`` — per-row array ops, no UDFs, no shuffles — so
the operators stay inside whole-stage codegen and scale linearly with the
scan.  Shuffle-based compositions (dedup joins etc.) live in
``operators/dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Explicit whitespace class instead of \s (r9 review find): Java's \s
# includes vertical tab \x0B, RE2's (DuckDB) does not, so any pattern
# negating \s silently diverges between engine and oracle on a
# \x0B-bearing document.  Spelling the set out pins identical semantics
# in both regex dialects.
WS_CLASS = r" \t\n\x0B\f\r"
# A BPE-ish tokenizer regex: word pieces or single non-space punctuation.
BPEISH_TOKEN_RE = rf"\w+|[^\w{WS_CLASS}]"

# Marker stopwords for the n-gram language-ID heuristic (tiny on purpose:
# the point is the *pipeline shape* — swap in real profiles for production).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "und", "die", "nicht", "das"),
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "de", "la", "que", "los"),
    "fr": ("le", "et", "les", "des", "une"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokens (single-space split, reference-style simplicity)."""
    return F.split(text, " ")


def bpeish_tokens(text: Column) -> Column:
    """BPE-ish tokens: word pieces + punctuation as separate tokens."""
    return F.regexp_extract_all(text, F.lit(BPEISH_TOKEN_RE), 0)


def word_shingles(text: Column, k: int = 3) -> Column:
    """Word k-gram shingles as strings; empty array when < k tokens.

    Per-row expression — the scale path computes shingles during the scan
    with no explode until (and unless) an inverted index is needed.
    """
    toks = tokens(text)
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def char_shingles(text: Column, k: int = 8) -> Column:
    """Character k-gram shingles (rolling window over the raw text)."""
    n = F.length(text)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: text.substr(i, F.lit(k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def seeded_hash(value: Column, seed: int) -> Column:
    """Deterministic seeded string hash: md5 over a seed-prefixed value.

    md5 keeps the whole family reproducible in any engine (the DuckDB
    oracles use the same construction); for throughput-critical paths
    xxhash64 is the better choice and is exposed as ``fast_hash``.
    """
    return F.md5(F.concat(F.lit(f"{seed}:"), value))


def fast_hash(value: Column, seed: int = 42) -> Column:
    """xxhash64 — the JVM-speed hash for scale paths (not oracle-portable)."""
    return F.xxhash64(value, F.lit(seed))


def hash32(value: Column) -> Column:
    """First 32 bits of md5 as a non-negative bigint (portable)."""
    return F.conv(F.substring(F.md5(value), 1, 8), 16, 10).cast("long")


# The explicit isNotNull guards below make NULL-text counts NULL under
# EVERY cluster config: bare F.size(NULL) is NULL under ANSI (the
# default this library is tested on) but -1 under
# spark.sql.legacy.sizeOfNull / ANSI-off, which a shared cluster may
# set — and a -1 slipping into a token SUM silently corrupts the
# aggregate instead of being skipped like NULL.


def token_count(text: Column) -> Column:
    return F.when(text.isNotNull(), F.size(tokens(text)))


def type_count(text: Column) -> Column:
    """Distinct-token (vocabulary) count."""
    return F.when(text.isNotNull(), F.size(F.array_distinct(tokens(text))))


def bpeish_token_count(text: Column) -> Column:
    return F.when(text.isNotNull(), F.size(bpeish_tokens(text)))


def quality_score(text: Column) -> Column:
    """Cheap heuristic quality score in [0, 1]: penalizes very short docs,
    single-char tokens, and low vocabulary diversity.  Deterministic,
    portable arithmetic only."""
    n_tok = token_count(text)
    n_typ = type_count(text)
    diversity = n_typ.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
    length_term = F.least(n_tok, F.lit(100)).cast("double") / 100.0
    return (0.5 * diversity + 0.5 * length_term)


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-hit count per language over the token set."""
    toks = F.array_distinct(tokens(F.lower(text)))
    out: dict[str, Column] = {}
    for lang, markers in LANG_MARKERS.items():
        hits = F.filter(toks, lambda t: t.isin(*markers))
        out[lang] = F.size(hits)
    return out


def lang_id(text: Column) -> Column:
    """Predicted language = argmax marker count, ties broken by language
    name order (deterministic CASE chain, mirrored in the SQL oracle)."""
    scores = lang_scores(text)
    langs = sorted(scores)  # fixed priority order
    expr = None
    # lang L wins if its score is strictly greater than every earlier
    # lang's and >= every later lang's (equivalent to argmax with
    # first-in-order tiebreak).
    best = F.lit("und")
    for lang in reversed(langs):
        cond = scores[lang] > 0
        for other in langs:
            if other == lang:
                continue
            if other < lang:
                cond = cond & (scores[lang] > scores[other])
            else:
                cond = cond & (scores[lang] >= scores[other])
        best = F.when(cond, F.lit(lang)).otherwise(best)
        expr = best
    return expr


def bow_fingerprint(text: Column) -> Column:
    """Bag-of-words fingerprint: md5 of the sorted distinct token list.
    Catches shuffled / re-ordered duplicates that exact-hash misses.

    NULL text -> NULL fingerprint: ``concat_ws`` would silently treat
    the NULL token array as empty, making every NULL-text doc an
    exact-fingerprint duplicate of every empty-text doc (and diverging
    from the SQL oracle's NULL-propagating ``array_to_string``)."""
    return F.when(
        text.isNotNull(),
        F.md5(F.concat_ws(" ", F.sort_array(F.array_distinct(tokens(text))))),
    )


def min_shingle_hash(text: Column, k: int = 8) -> Column:
    """Rolling-hash document fingerprint: min md5 over char k-grams."""
    return F.array_min(F.transform(char_shingles(text, k), F.md5))


def simhash32_from_hashes(hashes: Column) -> Column:
    """32-bit SimHash given a per-row array of token hashes: bit b is set
    iff more than half of the token hashes have bit b set (ties → 0).

    Single pass over the hash array: a 32-wide counter vector accumulates
    per-bit set counts via ``aggregate`` + ``zip_with`` (~30% faster than
    32 separate filter passes).  Per-row expression, no shuffle.
    """
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(32)])
    zeros = F.array(*[F.lit(0).cast("long") for _ in range(32)])
    n = F.size(hashes)
    counts = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc, masks, lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(0)
        ),
    )
    bits = F.zip_with(
        counts, masks, lambda c, m: F.when(c * 2 > n, m).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda a, x: a + x)


def token_hashes(text: Column) -> Column:
    """Portable 32-bit hash per whitespace token."""
    return F.transform(tokens(text), hash32)
