"""Text-analysis building blocks — all JVM-side (no Python UDFs in the path).

Everything here composes built-in ``pyspark.sql.functions`` / higher-order
array functions so the hot path stays inside whole-stage codegen. The hash
primitive is md5-based (not xxhash64) so every derived value is reproducible
in the DuckDB oracle: ``H(s) = int(md5(s)[:15], 16)`` — 60 bits, always
positive in a signed 64-bit long, identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


#: The whitespace characters, written EXPLICITLY because Java's \s and
#: RE2's (DuckDB's) \s disagree on vertical tab \x0B — Java includes it,
#: RE2 does not (found by the adversarial parity test). The explicit set is
#: identical in both engines; for Java it is exactly \s.
WS_CHARS = " \t\n\x0B\f\r"
#: The same set as a regex character class (the characters appear literally).
WS_CLASS = f"[{WS_CHARS}]"


def folded_lower(col: Column | str) -> Column:
    """Cross-engine-stable lowercase.

    Java's toLowerCase (Spark) applies the Unicode FULL + contextual
    mappings; DuckDB applies the simple mappings. They differ in exactly
    two places (found by the adversarial parity probe): U+0130 İ lowers to
    "i\u0307" (i + combining dot) in Java but plain "i" in DuckDB, and a
    word-final Σ lowers to final-form ς in Java but σ in DuckDB. Pre-map
    İ → i and post-map ς → σ and the two engines agree on every string —
    the property every tokenization/fingerprint oracle rests on.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(F.lower(F.translate(c, "İ", "i")), "ς", "σ")


def tokens(col: Column | str) -> Column:
    """Lowercased (cross-engine folded) whitespace tokens, empties removed.

    Implemented as btrim + guarded split, NOT ``filter(split(...), x != '')``:
    the two are value-identical (splitting on ``WS_CLASS+`` can only produce
    empty pieces at the ends, which the btrim removes up front; the guard
    maps the all-whitespace/empty document to [] where split alone would
    yield ['']), but ``F.filter`` is a higher-order function — CodegenFallback
    — which forces the whole lower/translate/split subtree into interpreted
    ``Expression.eval`` on every row. Those interpreted megamorphic call
    sites are shared by every query in a long session, so tokenize-heavy
    entries degraded 4-6x mid-sweep when the JIT re-profiled them (r12,
    measured: heavy_hitters_topk 8.1 s in-sweep vs 1.4 s isolated, executor
    stacks parked in ArrayFilter.eval/StringTranslate.eval). The btrim form
    keeps tokenize fully inside whole-stage codegen: ~0.1 s/scan slower in a
    virgin monomorphic session, stable under full-registry JIT pressure.
    """
    c = F.col(col) if isinstance(col, str) else col
    t = F.btrim(folded_lower(c), F.lit(WS_CHARS))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, WS_CLASS + "+")
    )


def md5_hash64(col: Column | str, seed: int | None = None) -> Column:
    """Deterministic 60-bit positive hash, oracle-reproducible.

    DuckDB twin: ``('0x' || substr(md5(s), 1, 15))::BIGINT``.
    """
    c = F.col(col) if isinstance(col, str) else col
    if seed is not None:
        c = F.concat(F.lit(f"{seed}:"), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


#: Universal-hash family for MinHash: mh_i(s) = (A[i]·b + B[i]) mod M where
#: b = md5_hash64(s) & (M-1 range). ONE md5 per shingle, k cheap integer
#: derivations — vs k md5 calls. M = 2^31-1 keeps every product ≤ 2^58,
#: overflow-free in a signed 64-bit long in both Spark and DuckDB.
MINHASH_MOD = 2147483647
MINHASH_A = (1299721, 15485863, 32452843, 49979687,
             67867967, 86028121, 104395301, 122949823)
MINHASH_B = (7, 101, 1009, 10007, 100003, 1000003, 10000019, 100000007)


def minhash_base(col: Column | str) -> Column:
    """31-bit base hash a shingle is reduced to before seed derivation."""
    return md5_hash64(col).bitwiseAND(F.lit(MINHASH_MOD))


def minhash_derive(base: Column, i: int) -> Column:
    """i-th universal-hash derivation of a 31-bit base hash."""
    return (base * MINHASH_A[i] + MINHASH_B[i]) % MINHASH_MOD


def shingles_all(tok: Column, n: int) -> Column:
    """Token n-gram shingles (space-joined), WITH multiplicity — the form
    repetition metrics need.

    Guarded so docs shorter than ``n`` yield an empty array — Spark's
    ``sequence(1, 0)`` would otherwise count *down*.
    """
    return F.when(
        F.size(tok) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tok) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(tok, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(tok: Column, n: int) -> Column:
    """Token n-gram shingles (space-joined), distinct — the set form the
    dedup/Jaccard family works on."""
    return F.array_distinct(shingles_all(tok, n))


def normalized_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse non-alnum runs
    to single spaces, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(folded_lower(c), r"[^a-z0-9]+", " "))


#: Tiny per-language stopword profiles for the n-gram/stopword language-ID
#: heuristic. Deliberately small and hard-coded: the heuristic must be
#: reproducible in ANSI SQL for the oracle.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est"),
}

#: Stopwords for the quality score's stopword-ratio component.
QUALITY_STOPWORDS: tuple[str, ...] = (
    "the", "a", "of", "and", "to", "in", "is", "that", "it", "for",
)


def profile_hits(tok: Column, words: tuple[str, ...]) -> Column:
    """Count of tokens (with multiplicity) that appear in ``words``."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tok, lambda t: F.array_contains(arr, t)))
