"""Portable text/hash expression builders, each with its DuckDB twin.

``token_hash64`` is the engine's deterministic cross-engine hash: the first
15 hex chars (60 bits) of sha256, as a non-negative int64. Spark's native
``F.hash``/``F.xxhash64`` would be faster but murmur/xxhash aren't available
in DuckDB, which would make every hash-based pipeline un-oracle-able; sha2 is
still JVM-side and codegen'd, just more expensive per byte — an acceptable
trade for a verifiable dedup stack. (A production deployment can swap in
``F.xxhash64`` behind the same signature; every downstream op only assumes
"deterministic int64".)

The DuckDB twins are plain SQL text: ``token_hash64_sql(x)`` ≡
``token_hash64``, ``token_hash_mod_sql(x)`` ≡ ``token_hash_mod`` and
``shingles_sql(toks, n)`` ≡ ``shingles``. A narrower hash is a shift of the
same one: the first 10 hex chars are the top 40 of the 60 bits, so
``shiftright(token_hash64(c), 20)`` ≡ ``(token_hash64_sql(x) >> 20)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Modulus used to keep hash arithmetic inside int64 (the classic 1e9+7 prime).
HASH_MOD = 1_000_000_007


def token_hash64(c: Column) -> Column:
    """60-bit non-negative deterministic hash of a string column."""
    return F.conv(F.substring(F.sha2(c, 256), 1, 15), 16, 10).cast("long")


def token_hash64_sql(x: str) -> str:
    """DuckDB twin of :func:`token_hash64` over the SQL expression ``x``."""
    return f"('0x' || substr(sha256({x}), 1, 15))::BIGINT"


def token_hash_mod(c: Column, mod: int = HASH_MOD) -> Column:
    """Hash reduced mod ``mod`` so affine re-hashing (a*h+b) stays in int64."""
    return token_hash64(c) % F.lit(mod)


def token_hash_mod_sql(x: str) -> str:
    """DuckDB twin of :func:`token_hash_mod` at ``HASH_MOD``."""
    return f"({token_hash64_sql(x)} % {HASH_MOD})"


def tokens(text: Column, sep: str = " ") -> Column:
    """Whitespace tokenization (the fixture corpus is space-separated)."""
    return F.split(text, sep)


def shingles(toks: Column, n: int = 3) -> Column:
    """Order-sensitive n-token shingles (pure Catalyst HigherOrderFunctions —
    transform over a 0-based index sequence; no Python in the loop).

    For a k-token doc produces k-n+1 shingles, none when k < n.
    """
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", *[F.get(toks, i + j) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))  # sequence() with a
    # negative bound would throw instead


def shingles_sql(toks: str, n: int = 3) -> str:
    """DuckDB twin of :func:`shingles` over the list expression ``toks``
    (1-based; ``range`` is empty when k < n, like the Spark side)."""
    parts = ", ".join(f"{toks}[i]" if j == 0 else f"{toks}[i+{j}]" for j in range(n))
    return f"list_transform(range(1, len({toks}) - {n - 2}), i -> concat_ws(' ', {parts}))"
