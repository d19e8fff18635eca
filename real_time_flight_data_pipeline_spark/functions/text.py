"""Text-analysis column expressions (north-star: LLM training-data pipeline).

Everything here is built from JVM-side expressions (split/transform/filter/
aggregate/md5) so it whole-stage-codegens and has an exact DuckDB-SQL twin
for the oracle harness. Hashes are md5-prefix based (not xxhash64) because
md5 is bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopword seed lists per language for the n-gram/stopword language-ID
# heuristic. Tiny on purpose: the heuristic is argmax of hit counts.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est"),
    "de": ("der", "die", "und", "das", "ist", "ein", "nicht", "mit"),
    "es": ("el", "los", "y", "una", "es", "en", "que", "se"),
}
# Deterministic tie-break order (first wins on equal counts).
LANG_ORDER: tuple[str, ...] = ("en", "fr", "de", "es")


def tokens(text: Column) -> Column:
    """Lower-cased whitespace tokens, empties removed."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: runs of letters, runs of digits, or single
    punctuation chars — a cheap proxy for BPE token counts at corpus scale."""
    return F.size(
        F.regexp_extract_all(
            F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)
        )
    )


def punct_ratio(text: Column) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    stripped = F.regexp_replace(text, r"[a-zA-Z0-9\s]", "")
    return F.when(
        F.length(text) > 0, F.length(stripped) / F.length(text)
    ).otherwise(F.lit(0.0))


def stopword_hits(text_tokens: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(text_tokens, lambda t: F.array_contains(arr, t)))


def stopword_ratio_from(toks: Column, lang: str = "en") -> Column:
    """stopword_ratio over an already-computed token array — pass a
    MATERIALIZED column (e.g. from a localCheckpoint'ed projection) to
    avoid re-tokenizing per use."""
    return F.when(
        F.size(toks) > 0, stopword_hits(toks, lang) / F.size(toks)
    ).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    return stopword_ratio_from(tokens(text), lang)


def lang_id_from(toks: Column) -> Column:
    """Argmax-of-stopword-hits language guess over an already-computed
    token array; 'und' when all counts are 0.

    Ties break by LANG_ORDER. Composed as nested CASE so it stays one
    codegen'd expression.
    """
    counts = {lg: stopword_hits(toks, lg) for lg in LANG_ORDER}
    best = F.greatest(*[counts[lg] for lg in LANG_ORDER])
    expr = F.lit("und")
    for lg in reversed(LANG_ORDER):
        expr = F.when((best > 0) & (counts[lg] == best), F.lit(lg)).otherwise(expr)
    return expr


def lang_id(text: Column) -> Column:
    return lang_id_from(tokens(text))


def quality_score_from(text: Column, toks: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    plausible mean token length + stopword presence. Deterministic, cheap,
    and monotone in the obvious junk signals. Token-dependent terms read
    the given token array; char-level terms still read the text."""
    n_tok = F.size(toks)
    mean_tok_len = F.when(n_tok > 0, F.length(F.regexp_replace(text, r"\s+", "")) / n_tok).otherwise(F.lit(0.0))
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(0.25)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(text) <= 0.2, F.lit(0.25)).otherwise(F.lit(0.0))
    tok_ok = F.when((mean_tok_len >= 2.0) & (mean_tok_len <= 12.0), F.lit(0.25)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio_from(toks) >= 0.01, F.lit(0.25)).otherwise(F.lit(0.0))
    return len_ok + punct_ok + tok_ok + stop_ok


def quality_score(text: Column) -> Column:
    return quality_score_from(text, tokens(text))


def normalized_text(text: Column) -> Column:
    """Canonical form for exact-dup fingerprinting: lower, collapse all
    non-alphanumeric runs to single spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " "))


def fingerprint(text: Column) -> Column:
    """128-bit content fingerprint of the normalized text (hex string)."""
    return F.md5(normalized_text(text))


def md5_long(c: Column) -> Column:
    """Deterministic cross-engine hash: first 15 hex chars of md5 -> bigint.

    15 hex digits = 60 bits, always positive, fits a 64-bit signed long in
    every engine. Used for minhash/simhash where xxhash64 would not be
    reproducible in the DuckDB oracle.
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def shingles(text_tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings; empty array when fewer than n tokens."""
    sz = F.size(text_tokens)
    idx = F.sequence(F.lit(0), sz - n)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(text_tokens, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.when(sz >= n, grams).otherwise(F.array().cast("array<string>"))


# Universal-hash minhash family over a 32-bit base hash: one md5 per
# shingle, then perm_s(h) = (a_s*h + b_s) mod P per permutation — 8x fewer
# md5 evaluations than hashing per-seed, same theoretical guarantees
# (Carter-Wegman universal hashing). a_s < 2^31 keeps a*h < 2^63: exact
# BIGINT arithmetic in both Spark and DuckDB.
MINHASH_PRIME = 4294967291  # largest 32-bit prime


def _minhash_coeffs(n: int) -> list[tuple[int, int]]:
    coeffs = []
    x = 0x9E3779B97F4A7C15
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) & (2**64 - 1)
        a = (x >> 33) | 1  # odd, < 2^31
        x = (x * 6364136223846793005 + 1442695040888963407) & (2**64 - 1)
        b = x >> 33
        coeffs.append((a, b))
    return coeffs


MINHASH_COEFFS = _minhash_coeffs(16)


def shingle_base_hashes(shingle_arr: Column) -> Column:
    """One 32-bit md5-prefix hash per shingle (the only md5 pass)."""
    return F.transform(
        shingle_arr,
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )


def minhash_from_hashes(base_hashes: Column, seed: int) -> Column:
    a, b = MINHASH_COEFFS[seed]
    return F.array_min(
        F.transform(base_hashes, lambda h: (h * F.lit(a) + F.lit(b)) % MINHASH_PRIME)
    )


def minhash_value(shingle_arr: Column, seed: int) -> Column:
    """min over shingles of perm_seed(md5_32(shingle)); NULL for empty sets."""
    return minhash_from_hashes(shingle_base_hashes(shingle_arr), seed)


# Winnowing document fingerprints (Schleimer et al., SIGMOD'03): hash every
# char k-gram, slide a w-window over the hash sequence, keep each window's
# minimum. Guarantee: any shared substring of length >= k + w - 1 yields at
# least one shared fingerprint between two documents.
WINNOW_K = 5  # char k-gram width
WINNOW_W = 4  # winnowing window length


# Polynomial gram-code hash (r12): normalized text is [a-z0-9 ] only
# (ascii < 131), so sum(code[i+j] * 131^j) is an INJECTIVE BIGINT
# encoding of the 5-gram (max ~3.62e10). The mix is two independent
# multiplicative residues packed into one long:
#     h = ((g*A1) % P1) * 2^31 + (g*A2) % P2
# with P1/P2 distinct primes — INJECTIVE over the gram-code range (a
# collision needs g1-g2 divisible by both primes, i.e. by P1*P2 ~ 1e18,
# far above the 3.86e10 range), non-monotone (each residue wraps ~36
# times across the range, so winnowing's window minima are not just
# "smallest gram alphabetically"), and the value space is ~2^60 — a
# single (g*A) % 1e9 mix was a real defect: at the 100x corpus its
# 2^30 space birthday-collided across ~2e8 distinct grams, melting the
# df-capped blocking into hot buckets (OOM in the candidate join). All
# arithmetic is exact int64 in BOTH engines (max intermediate
# g*A1 ~ 7.7e18 < 2^63), so the oracle states the identical function —
# the same cross-engine determinism md5-prefix hashing gave, at
# array-arithmetic cost instead of one md5 per char position (measured:
# the md5 pass was 94 of docs_ngram_jaccard_pairs' 133 s at 100x).
GRAM_BASE = 131
GRAM_MIX_A1 = 200_000_033
GRAM_MIX_P1 = 1_000_000_007
GRAM_MIX_A2 = 179_424_673
GRAM_MIX_P2 = 1_000_000_009
GRAM_MIX_SHIFT = 2_147_483_648  # 2^31 > P1, keeps the pack collision-free


def char_gram_hashes(norm_text: Column, k: int = WINNOW_K) -> Column:
    """One BIGINT hash per char k-gram of already-normalized text: the
    exact polynomial gram code mixed into two packed multiplicative
    residues (see the constant block above — injective over the gram
    range, ~2^60 value space).

    Caller must pass a *projected* normalized-text column (and keep a
    checkpoint barrier before this) — the expression is inlined per
    consumer reference, so feeding normalized_text(text) directly would
    re-run the regex chain per reference (the CollapseProject trap).

    Shape: the char-code array is combined with its shifts via zip_with
    (one O(n) pass per shift, k-1 shifts) instead of k element_at lookups
    per gram inside a transform lambda — Catalyst does not eliminate
    common subexpressions inside HOF lambdas (the r12 minhash lesson), so
    the lookup form would re-evaluate the code array per reference.
    zip_with NULL-pads the shorter shifted side and the arithmetic
    propagates NULL, so positions without a full gram fall out of the
    final n_grams slice."""
    if k != WINNOW_K:  # the shift ladder below is laid out for k = 5
        raise NotImplementedError("char_gram_hashes is laid out for k = 5")
    codes = F.transform(
        F.split(norm_text, ""), lambda c: F.ascii(c).cast("long")
    )
    sz = F.size(codes)

    def shift(j: int) -> Column:
        return F.slice(codes, j + 1, F.greatest(sz - j, F.lit(1)))

    b1, b2, b4 = GRAM_BASE, GRAM_BASE**2, GRAM_BASE**4
    t01 = F.zip_with(codes, shift(1), lambda a, b: a + b * F.lit(b1))
    t23 = F.zip_with(shift(2), shift(3), lambda a, b: a + b * F.lit(b1))
    poly = F.zip_with(
        F.zip_with(t01, t23, lambda x, y: x + y * F.lit(b2)),
        shift(4),
        lambda x, c: (x + c * F.lit(b4)).cast("long"),
    )
    mixed = F.transform(
        poly,
        lambda g: ((g * F.lit(GRAM_MIX_A1)) % F.lit(GRAM_MIX_P1))
        * F.lit(GRAM_MIX_SHIFT)
        + (g * F.lit(GRAM_MIX_A2)) % F.lit(GRAM_MIX_P2),
    )
    n_grams = F.length(norm_text) - k + 1
    return F.when(
        n_grams >= 1, F.slice(mixed, 1, n_grams)
    ).otherwise(F.array().cast("array<long>"))


def winnow_mins(gram_hashes: Column, w: int = WINNOW_W) -> Column:
    """Distinct per-window minima of the k-gram hash sequence (the selected
    fingerprints). Documents with fewer than w grams contribute one window
    over whatever grams exist; empty documents contribute none.

    Sliding minima by doubling (r12): ``m2[j] = min(hs[j], hs[j+1])``,
    ``m4[j] = min(m2[j], m2[j+2])`` — ceil(log2(w)) zip_with passes of
    O(n) each instead of an O(n*w) slice+array_min allocation per window
    (the 10x profile put the old form at ~7.6 s of the winnow queries'
    time; this is the same sequence the per-window mins produce, so the
    oracle SQL is untouched). ``zip_with`` pads the shorter (shifted)
    side with NULL and ``least`` skips NULLs, which exactly reproduces
    the truncated tail windows; only the first n_w positions are kept,
    matching the per-window form for n_h >= w and collapsing to
    array_min(hs) for 1 <= n_h < w."""
    if w != 4:  # the doubling ladder below is laid out for w = 4
        n_h0 = F.size(gram_hashes)
        n_w0 = F.greatest(n_h0 - w + 1, F.least(n_h0, F.lit(1)))
        return F.when(
            n_h0 >= 1,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n_w0),
                    lambda j: F.array_min(
                        F.slice(gram_hashes, j.cast("int"), w)
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<long>"))
    n_h = F.size(gram_hashes)
    n_w = F.greatest(n_h - w + 1, F.least(n_h, F.lit(1)))
    m2 = F.zip_with(
        gram_hashes,
        F.slice(gram_hashes, 2, F.greatest(n_h - 1, F.lit(1))),
        lambda a, b: F.least(a, b),
    )
    m4 = F.zip_with(
        m2,
        F.slice(m2, 3, F.greatest(n_h - 2, F.lit(1))),
        lambda a, b: F.least(a, b),
    )
    return F.when(
        n_h >= 1,
        F.array_distinct(F.slice(m4, 1, n_w)),
    ).otherwise(F.array().cast("array<long>"))
