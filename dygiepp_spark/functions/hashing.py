"""Portable deterministic hashing.

MinHash / SimHash / fingerprint operators need a hash function that yields
IDENTICAL values in Spark and in the DuckDB oracle, so the engine-agnostic
primitive is a character-level polynomial rolling hash

    h(s) = foldl1( (acc, c) -> (acc*31 + ascii(c)) mod P )  over chars of s

with P = 1e9+7. Everything downstream (minhash permutations, simhash bit
draws, band hashes) is integer arithmetic on h(s), expressible as column
expressions in both dialects. Spark-side expressions stay inside
whole-stage codegen (no Python).
"""

from __future__ import annotations

MOD = 1_000_000_007
PERM_MOD = MOD  # permutation modulus; inputs are char-hashes < MOD

# (a, b) parameters for k=16 minhash permutations h_i(x) = (a*x + b) % MOD.
# a must be large enough that a*x wraps the modulus — otherwise h_i is
# monotone and every "permutation" picks the same argmin (measured failure
# mode: near-identical docs sharing no LSH band). a*x < MOD² ≈ 1e18 stays
# inside int64 in both engines. Constants via modular powers — fixed,
# engine-independent.
MINHASH_PERMS: tuple[tuple[int, int], ...] = tuple(
    (pow(1103515245, i + 1, MOD - 1) + 1, pow(12345, i + 1, MOD))
    for i in range(16)
)
# 8 bands × 2 rows (the band count is len(MINHASH_PERMS) // ROWS_PER_BAND):
# candidate-recall at Jaccard j is 1-(1-j²)⁸ — ≥ 99.8% at j = 0.75
# (4×4 banding recalls only ~79% there, measured)
ROWS_PER_BAND = 2

SIMHASH_BITS = 32


def char_hash_sql(col: str, dialect: str) -> str:
    """Polynomial char hash of a string column; identical value both dialects."""
    if dialect == "spark":
        return (
            f"aggregate(transform(split({col}, ''), c -> CAST(ascii(c) AS BIGINT)), "
            f"CAST(NULL AS BIGINT), "
            f"(acc, x) -> CASE WHEN acc IS NULL THEN x ELSE (acc * 31 + x) % {MOD} END)"
        )
    if dialect == "duckdb":
        return (
            f"list_reduce(list_transform(string_split({col}, ''), "
            f"c -> CAST(ascii(c) AS BIGINT)), (acc, x) -> (acc * 31 + x) % {MOD})"
        )
    raise ValueError(dialect)
