"""Portable text primitives: tokenize, hash, shingle, fingerprint.

Every primitive here exists in TWO forms generated from one Python
definition: a Spark SQL expression (used via F.expr inside DataFrame
plans, where it stays in whole-stage codegen) and a DuckDB SQL
fragment (used in oracle queries). Keeping both generators side by
side guarantees the engines compute bit-identical values.

The string hash is the first 15 hex digits of md5 (`spark_str_hash` /
`duck_str_hash`), a native function in both engines. One consumer
computes it outside SQL: the token votes of the simhash operators
(operators/dedup.py `_token_vote_batches`) run in a mapInArrow batch
function that calls the Python form, `py_str_hash`, once per distinct
token of each Arrow batch, because the per-occurrence SQL hash
dominated that stage. Its value is the same number: md5 over the
token's UTF-8 bytes (what Spark's and DuckDB's md5 hash), the top 60
bits of the digest, read big-endian, which is exactly what parsing
the 15-hex-digit prefix gives. tests/test_simhash_arrow.py checks it
against both SQL forms.
"""

from __future__ import annotations

import hashlib
import random

PRIME = 1_000_000_007

# MinHash seeds: k independent (a, b) pairs for h' = (a*h + b) mod PRIME.
# a <= 1e6 keeps a*h < 1e15, safely inside int64.
_rng = random.Random(42)
MINHASH_K = 12
MINHASH_BANDS = 4  # 4 bands x 3 rows
MINHASH_SEEDS: list[tuple[int, int]] = [
    (_rng.randrange(1, 1_000_000), _rng.randrange(0, PRIME)) for _ in range(MINHASH_K)
]

SIMHASH_BITS = 32
SIMHASH_CHUNKS = 4  # 8-bit chunks for the banding self-join


# ------------------------------------------------------------ hashes
def spark_str_hash(col_expr: str) -> str:
    """Portable 60-bit string hash: first 15 hex digits of md5.

    md5 is a native (C/JVM) function in both engines, ~10x cheaper than
    the earlier per-character lambda fold, and the hex-prefix parse is
    exact in both (verified value-identical). 15 hex digits = 60 bits,
    safely inside int64."""
    return f"cast(conv(substring(md5({col_expr}), 1, 15), 16, 10) as bigint)"


def duck_str_hash(col_expr: str) -> str:
    """Same hash as a DuckDB SQL expression (verified value-identical)."""
    return f"CAST(('0x' || substring(md5({col_expr}), 1, 15)) AS BIGINT)"


def py_str_hash(s: str) -> int:
    """Same hash in Python: the top 60 bits of md5 over the UTF-8 bytes,
    the value of the 15-hex-digit prefix."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") >> 4


# ------------------------------------------------------------ minhash
def spark_minhash(hash_col: str, i: int) -> str:
    a, b = MINHASH_SEEDS[i]
    return f"min(({a}L * ({hash_col} % {PRIME}) + {b}L) % {PRIME})"


def duck_minhash(hash_col: str, i: int) -> str:
    a, b = MINHASH_SEEDS[i]
    return f"min((CAST({a} AS BIGINT) * ({hash_col} % {PRIME}) + {b}) % {PRIME})"


def band_signature_exprs(engine: str, n_bands: int = MINHASH_BANDS) -> list[str]:
    """Concatenate each band's minhash rows into one signature string.

    `n_bands` is the LSH recall/cost dial over the same MINHASH_K
    hashes: (bands b, rows r = K/b) collides a pair of jaccard j with
    p = 1 - (1 - j^r)^b. The default 4x3 layout has ~23% recall at
    j = 0.4; the 6x2 layout (n_bands=6) raises that to ~65% at the
    cost of more candidate volume (measured: DUPBENCH.json).
    """
    if MINHASH_K % n_bands != 0:
        raise ValueError(
            f"n_bands={n_bands} must divide MINHASH_K={MINHASH_K}: "
            f"integer division would silently drop "
            f"{MINHASH_K % n_bands} of the {MINHASH_K} minhashes from "
            "every band signature, changing recall without saying so"
        )
    rows = MINHASH_K // n_bands
    sep = " || '-' || " if engine == "duck" else None
    out = []
    for band in range(n_bands):
        cols = [f"mh{band * rows + r}" for r in range(rows)]
        if engine == "duck":
            out.append(sep.join(f"CAST({c} AS VARCHAR)" for c in cols))
        else:
            out.append("concat_ws('-', " + ", ".join(cols) + ")")
    return out


# ------------------------------------------------------------ tokens
SPARK_TOKENS = "split(text, ' ')"
DUCK_TOKENS = "string_split(text, ' ')"

STOPWORDS = ("the", "a")


def stopword_in_list_sql() -> str:
    return ", ".join(f"'{w}'" for w in STOPWORDS)
