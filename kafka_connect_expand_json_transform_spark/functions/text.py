"""Text column expressions — [EXT] building blocks for the LLM-data-pipeline
operators (SURVEY.md §2.2 "LLM-data-pipeline operators").

Everything here is a pure Column expression (JVM-side, whole-stage codegen) —
no Python UDFs in the hot path.  Two hash families are provided:

* ``xxhash64``-based — the fast path for production-scale MinHash/SimHash.
* ``md5``-based    — bit-identical in Spark and DuckDB, used where the
  correctness oracle must reproduce the exact hash values in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# a small, language-agnostic stopword list used by quality scoring; kept tiny
# and inline so the DuckDB oracle can embed the identical list
DEFAULT_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization. Returns array<string> without empty tokens."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def word_shingles(col: Column | str, n: int = 3, lowercase: bool = True) -> Column:
    """Distinct n-word shingles of a text column (array<string>).

    Built with ``transform(sequence(...))`` over the token array — stays in
    codegen, no explode until the caller wants one row per shingle.

    PERF: this inlines the tokenization expression, which Catalyst re-evaluates
    at EVERY reference inside the lambda (~3×positions per doc). Fine for a
    single projection over a corpus; for anything iterated (MinHash, SimHash),
    materialize the token array first and use ``shingles_from_tokens``.
    """
    return shingles_from_tokens(tokens(col, lowercase), n)


def shingles_from_tokens(toks: Column | str, n: int = 3) -> Column:
    """Shingles from an already-computed token array column. When ``toks`` is
    a plain attribute (a real column, not a nested expression), each
    ``element_at`` reference is O(1) — the staging trick that makes MinHash
    ~100× cheaper than inlining (see ``dedup.minhash_signatures``)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    # element_at is 1-based; sequence(1, size-n+1) yields all start positions
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col, lowercase=False))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-flavored token estimate: count word pieces + digits + punctuation
    runs (the standard ~"GPT tokens ≈ words + punctuation" heuristic), via
    ``regexp_count`` — JVM regex, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = DEFAULT_STOPWORDS) -> Column:
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def unique_token_ratio(col: Column | str) -> Column:
    toks = tokens(col)
    return F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1))


def alpha_ratio(col: Column | str) -> Column:
    """Fraction of characters that are alphabetic — punctuation/noise signal."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"[A-Za-z]")) / F.greatest(F.length(c), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: long enough, lexically diverse,
    mostly alphabetic, sane stopword density. Deterministic, oracle-friendly."""
    toks_ok = F.least(token_count(col) / F.lit(20.0), F.lit(1.0))
    return F.round(
        0.4 * toks_ok
        + 0.3 * unique_token_ratio(col)
        + 0.2 * alpha_ratio(col)
        + 0.1 * F.least(stopword_ratio(col) * 5.0, F.lit(1.0)),
        4,
    )


def md5_fingerprint(col: Column | str, normalize: bool = True) -> Column:
    """Exact-dedup document fingerprint: md5 of whitespace-normalized lowered
    text. md5 is bit-identical in Spark and DuckDB, so the oracle reproduces
    it; at 100 TB the 128-bit space makes collisions a non-issue."""
    c = F.col(col) if isinstance(col, str) else col
    if normalize:
        c = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(c)


def minhash_md5(shingles: Column, num_hashes: int) -> Column:
    """MinHash signature (array<string> of length ``num_hashes``) using the
    oracle-parity hash family: hash_i(s) = md5(s || '#' || i), signature_i =
    lexicographic min over shingles.

    min over a 128-bit uniform hash is a valid MinHash permutation; string
    min is deterministic and engine-independent.
    """
    return F.array(
        *[
            F.array_min(F.transform(shingles, lambda s: F.md5(F.concat(s, F.lit(f"#{i}")))))
            for i in range(num_hashes)
        ]
    )


def minhash_xxhash(shingles: Column, num_hashes: int) -> Column:
    """Fast-path MinHash signature (array<bigint>) via xxhash64 with per-hash
    seeds — the production variant (xxhash64 is ~an order of magnitude
    cheaper than md5 and stays in codegen)."""
    return F.array(
        *[
            F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, F.lit(i))))
            for i in range(num_hashes)
        ]
    )
