"""Cross-engine deterministic hashing + tokenization primitives.

The correctness gate compares Spark output against DuckDB, so hash-based
operators (MinHash, SimHash, fingerprints) need a hash function both engines
compute identically. Neither engine's native 64-bit hash matches the other
(Spark xxhash64 vs DuckDB hash), but both have md5 with identical lowercase
hex output, and both can turn 15 hex chars into a BIGINT:

- Spark : ``CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)``
- DuckDB: ``('0x' || substr(md5(s), 1, 15))::BIGINT``

giving the same 60-bit non-negative integer. md5 costs more than xxhash64;
production at 100 TB should flip ``hash_fn='xxhash64'`` (same plan shape,
Spark-native speed) — md5 is the verifiability profile.

Tokenization: lowercase, split on non-alphanumeric runs, drop empties —
expressed with the same lambda semantics in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash63(col: Column | str, hash_fn: str = "md5") -> Column:
    """Deterministic non-negative BIGINT hash of a string column."""
    c = F.col(col) if isinstance(col, str) else col
    if hash_fn == "md5":
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")
    if hash_fn == "xxhash64":
        # fast path for production; not cross-engine-comparable
        return F.abs(F.xxhash64(c))
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def hash63_sql(expr: str) -> str:
    """DuckDB twin of :func:`hash63` (md5 profile) as a SQL fragment."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


# Universal-hash mixer: derive k independent hashes from ONE base hash via
# h_i = (A_i·(h mod P) + B_i) mod P with P = 2^31−1. Products stay < 2^62 so
# int64 arithmetic never overflows, in either engine — one md5 per input
# instead of k. Constants are fixed (seeded) so results are reproducible.
MIX_P = 2_147_483_647

def _gen_mix_constants(k: int, seed: int = 7) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, MIX_P), rng.randrange(0, MIX_P)) for _ in range(k)]


MIX_CONSTANTS = _gen_mix_constants(64)


def mixed_hash(base: Column, i: int) -> Column:
    """i-th derived hash of a base hash63 column (Spark side)."""
    a, b = MIX_CONSTANTS[i]
    return (F.lit(a) * (base % F.lit(MIX_P)) + F.lit(b)) % F.lit(MIX_P)


def mixed_hash_sql(base_expr: str, i: int) -> str:
    """DuckDB twin of :func:`mixed_hash`."""
    a, b = MIX_CONSTANTS[i]
    return f"(({a} * (({base_expr}) % {MIX_P}) + {b}) % {MIX_P})"


def tokens(col: Column | str) -> Column:
    """Lowercased alphanumeric tokens, empties dropped."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(c), r"[^a-z0-9]+"),
        lambda x: x != F.lit(""),
    )


def tokens_sql(expr: str) -> str:
    """DuckDB twin of :func:`tokens`."""
    return (
        f"list_filter(string_split_regex(lower({expr}), '[^a-z0-9]+'), x -> x != '')"
    )


def sql_ident(name: str) -> str:
    """Backtick-quoted identifier with embedded backticks escaped
    (`` -> ````), so a column name can never break out of the quoting.
    ``F.col(sql_ident(name))`` also resolves names the plain ``F.col``
    parser rejects."""
    return f"`{name.replace('`', '``')}`"
