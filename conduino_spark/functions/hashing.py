"""Deterministic, engine-portable hashing primitives.

The LLM-pipeline operators (dedup/minhash/simhash/fingerprint) must be
verifiable against a DuckDB oracle (driver contract), so every hash is
derived from **md5** — identical bytes in Spark (``F.md5``) and DuckDB
(``md5()``) — never from engine-private functions like Spark's
murmur3 ``F.hash``.

    h32(s) = int(md5(s)[:8], 16)            # 32-bit uniform hash
    minhash_j(S) = min_{x in S} (a_j * h32(x) + b_j) mod P

P = 2^31-1 (prime); a_j/b_j from a fixed LCG so Spark and SQL share the
exact parameter table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE31 = 2_147_483_647  # 2^31 - 1, prime
FNV_MOD = 1_000_000_007


def lcg_params(k: int, seed: int = 0x5EED) -> list[tuple[int, int]]:
    """k deterministic (a, b) pairs for universal hashing; shared by the
    Spark operators and the generated oracle SQL."""
    out = []
    x = seed
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % (MERSENNE31 - 2)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % MERSENNE31
        out.append((a, b))
    return out


def h32(col: Column) -> Column:
    """32-bit hash = first 8 hex digits of md5, as long (portable)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def h32_shard(col: Column, n_shards: int) -> Column:
    """``pt = h32(col) mod n_shards`` — the shard key the persisted
    exact, simhash, dupspan and bm25 indexes write, merge and probe
    with (one expression, so the three can never disagree)."""
    return F.pmod(h32(col), F.lit(n_shards))


def h32_sql(expr: str) -> str:
    """DuckDB rendering of :func:`h32` — bit-identical."""
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"


def rolling_fingerprint(hashes: Column) -> Column:
    """Order-sensitive document fingerprint: left fold
    ``acc = (acc*31 + h) mod 1e9+7`` over token hashes."""
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(31) + x) % F.lit(FNV_MOD),
    )


def rolling_fingerprint_sql(hashes_expr: str) -> str:
    """DuckDB rendering of :func:`rolling_fingerprint` (list_reduce needs
    the zero prepended to match Spark's explicit initial accumulator)."""
    return (f"list_reduce(list_prepend(0::BIGINT, {hashes_expr}), "
            f"(acc, x) -> (acc * 31 + x) % {FNV_MOD})")
