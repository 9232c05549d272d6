"""Portable deterministic hashing shared by the dedup/text operators.

Everything here must produce BIT-IDENTICAL results in Spark and DuckDB
so the near-dup pipeline can be differentially tested end-to-end. The
only hash primitive both engines share is md5 over UTF-8 — we derive a
60-bit integer from its hex prefix (15 nibbles < 2^60, fits BIGINT
exactly; 16 would overflow sign), then build universal-hash families
with plain modular arithmetic on top. md5 is the package's one hash
family: every dedup, curation, shard-layout, streaming and profiling
path hashes through it, so the DuckDB oracles check the same code the
runners execute.

Spark expressions are built as SQL strings (F.expr) so the same
generator also emits the DuckDB oracle fragment — one source of truth
per formula, no drift.
"""

from __future__ import annotations

import random

# modulus for token/shingle base hashes (Mersenne prime 2^31-1):
# keeps a*x + b within BIGINT for a,b < 2^31 (a*x < 2^62)
M31 = 2_147_483_647
# universal-hash family modulus, prime > 2^32
P_HASH = 4_294_967_311
# rolling-fingerprint modulus
P_FP = 1_000_000_007

# MinHash family: NUM_HASHES permutations in B bands of R rows
NUM_HASHES = 12
BANDS = 4
ROWS_PER_BAND = 3

_rng = random.Random(42)
MINHASH_A = [_rng.randrange(1, M31) for _ in range(NUM_HASHES)]
MINHASH_B = [_rng.randrange(0, M31) for _ in range(NUM_HASHES)]


def spark_h60(expr: str) -> str:
    """Spark: conv(hex, 16, 10) -> decimal string -> BIGINT."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def duck_h60(expr: str) -> str:
    """DuckDB: '0x' || hex casts directly to BIGINT."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def spark_base_hash(expr: str) -> str:
    """Token/shingle base hash in [0, M31), reproduced bit-for-bit by
    duck_base_hash."""
    return f"({spark_h60(expr)} % {M31})"


def duck_base_hash(expr: str) -> str:
    return f"({duck_h60(expr)} % {M31})"


def minhash_term(j: int, base_expr: str) -> str:
    """j-th universal hash of a base-hash expression (engine-neutral)."""
    return f"(({MINHASH_A[j]} * {base_expr} + {MINHASH_B[j]}) % {P_HASH})"
