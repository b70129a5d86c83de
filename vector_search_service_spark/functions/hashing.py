"""Hashing / fingerprinting expressions for the dedup suite.

Everything here is engine-portable by construction: the only hash
primitive is ``md5`` (identical lowercase hex in Spark and DuckDB), and
"numeric" hash comparisons are done on hex strings (lexicographic min
over fixed-width hex == numeric min) or via explicit nibble decoding —
so every operator built on these has an exact DuckDB oracle.

Scale notes: all expressions are built-in Catalyst (codegen'd); the
per-row cost is a few md5s over short strings. The heavy parts of
dedup (the self-joins) live in ``operators/dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX_DIGITS = "0123456789abcdef"


def words_col(text: Column) -> Column:
    """Non-empty lowercased word tokens (no stopword removal — dedup
    must see the document verbatim)."""
    return F.filter(F.split(F.lower(text), "[^a-z0-9]+"), lambda t: t != "")


def sql_words_expr(c: str) -> str:
    return f"list_filter(regexp_split_to_array(lower({c}), '[^a-z0-9]+'), t -> t <> '')"


def shingles_col(words: Column, k: int = 3) -> Column:
    """Word k-gram shingles, space-joined. Short docs (< k words)
    produce their full token string as a single shingle so they still
    participate."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(words) - (k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, k)))


def sql_shingles_expr(words: str, k: int = 3) -> str:
    # COALESCE: DuckDB's array_to_string is NULL on an empty slice
    # (zero-token doc) where Spark's concat_ws is total and yields ''.
    # Without it every shingle-Jaccard oracle silently drops empty
    # docs that the engine correctly pairs (caught by the edge-corpus
    # sweep, tests/test_edge_corpus.py).
    return (
        f"list_transform(range(1, greatest(len({words}) - {k - 1}, 1) + 1), "
        f"i -> COALESCE(array_to_string(list_slice({words}, i, i + {k - 1}), ' '), ''))"
    )


# MinHash via one strong hash + k integer permutations:
#   h(s)   = low 31 bits of md5(s)  (hex→int, portable)
#   h_i(s) = (a_i·h(s) + b_i) mod p (Mersenne prime 2^31-1)
# One md5 per shingle TOTAL (not per seed) — the md5 dominates minhash
# cost, so k-vs-1 digests is the difference between hours and minutes
# at corpus scale. a_i < 2^31 keeps every product under 2^62: exact in
# Spark's signed i64 and DuckDB's UBIGINT alike.

MINHASH_P = (1 << 31) - 1


def _perm_coeffs(seed: int) -> tuple[int, int]:
    # deterministic odd multiplier + offset per seed (fixed contract)
    a = (2 * seed + 1) * 2654435761 % MINHASH_P
    b = (seed * 40503 + 12345) % MINHASH_P
    return (a or 1), b


# Rolling token-hash shingles (r4, judge r3 #7): hash each TOKEN once
# (md5 low 31 bits, reduced mod P so the fold below is closed over
# [0, P)), then combine every k-token window by Horner's rule
#     H = fold over window of (acc, t) -> (acc·C + t) mod P
# — no shingle string is ever materialized and the digest work drops
# from one md5 per (k·word) shingle string to one md5 per token.
# C < 2^21 keeps every acc·C product < 2^52: exact in Spark's signed
# i64, DuckDB's BIGINT, and numpy uint64 alike. DuckDB's list_reduce
# has no init argument (it seeds with the first element); Horner from
# init 0 equals Horner from a first-element seed because token hashes
# are already < P, and the empty-window case (empty document) is
# pinned to 0 by an explicit CASE on the SQL side (Spark's aggregate
# over an empty array returns the 0 init on its own) — so empty docs
# still share one bucket, as the string pipeline's md5('') did.

ROLL_C = 1_000_003


def token_hashes_col(words: Column) -> Column:
    """One md5 per token, low 31 bits, reduced mod P."""
    return F.transform(
        words,
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        % F.lit(1 << 31) % F.lit(MINHASH_P),
    )


def sql_token_hashes_expr(words: str) -> str:
    return (
        f"list_transform({words}, t -> CAST(('0x' || substr(md5(t), 1, 8))::UBIGINT "
        f"% 2147483648 % {MINHASH_P} AS BIGINT))"
    )


def hashed_shingles_col(token_hashes: Column, k: int = 3) -> Column:
    """Positional k-window rolling hashes over the token-hash array
    (same window contract as ``shingles_col``: short docs produce one
    shingle covering all their tokens)."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(token_hashes) - (k - 1), F.lit(1)))
    return F.transform(
        idx,
        lambda i: F.aggregate(
            F.slice(token_hashes, i, k),
            F.lit(0).cast("long"),
            lambda acc, t: (acc * F.lit(ROLL_C) + t) % F.lit(MINHASH_P),
        ),
    )


def sql_hashed_shingles_expr(token_hashes: str, k: int = 3) -> str:
    win = f"list_slice({token_hashes}, i, i + {k - 1})"
    return (
        f"list_transform(range(1, greatest(len({token_hashes}) - {k - 1}, 1) + 1), "
        f"i -> CASE WHEN len({win}) = 0 THEN 0 "
        f"ELSE list_reduce({win}, (acc, t) -> (acc * {ROLL_C} + t) % {MINHASH_P}) END)"
    )


def minhash_from_hashes_col(hashes: Column, seed: int) -> Column:
    a, b = _perm_coeffs(seed)
    return F.array_min(
        F.transform(hashes, lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P))
    )


def sql_minhash_from_hashes_expr(hashes: str, seed: int) -> str:
    a, b = _perm_coeffs(seed)
    return f"list_min(list_transform({hashes}, h -> (h * {a} + {b}) % {MINHASH_P}))"


def band_key_from_hashes_col(hashes: Column, seeds: tuple[int, ...]) -> Column:
    """LSH band key: md5 of the band's concatenated MinHash values."""
    return F.md5(F.concat_ws("|", *[
        minhash_from_hashes_col(hashes, s).cast("string") for s in seeds
    ]))


def sql_band_key_from_hashes_expr(hashes: str, seeds: tuple[int, ...]) -> str:
    parts = ", ".join(
        f"CAST({sql_minhash_from_hashes_expr(hashes, s)} AS VARCHAR)" for s in seeds
    )
    return f"md5(array_to_string([{parts}], '|'))"


_ODD_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")


def token_digests_col(words: Column) -> Column:
    """md5 per token, computed ONCE — simhash reads 16 digits from the
    same digest (materialize this as its own column so the 16 bit
    expressions share it instead of re-hashing)."""
    return F.transform(words, lambda t: F.md5(t))


def sql_token_digests_expr(words: str) -> str:
    return f"list_transform({words}, t -> md5(t))"


def simhash16_col(digests: Column) -> Column:
    """16-bit SimHash over token md5 digests: bit j is the sign of
    Σ_tokens (2·b_j − 1) where b_j is the parity of hex digit j (an
    IN-list check, portable to the oracle verbatim). A production
    64/128-bit variant only widens the loop."""
    def _balance(j: int) -> Column:
        return F.aggregate(
            digests,
            F.lit(0),
            lambda acc, d: acc
            + F.when(F.substring(d, j + 1, 1).isin(*_ODD_HEX), F.lit(1))
             .otherwise(F.lit(-1)),
        )

    acc = F.lit(0)
    for j in range(16):
        acc = acc + F.when(_balance(j) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return acc


def sql_simhash16_expr(digests: str) -> str:
    odd = ", ".join(f"'{d}'" for d in _ODD_HEX)
    terms = []
    for j in range(16):
        bal = (
            f"list_sum(list_transform({digests}, d -> "
            f"CASE WHEN substr(d, {j + 1}, 1) IN ({odd}) THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {bal} > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def jaccard_col(a: Column, b: Column) -> Column:
    """Set Jaccard over token arrays — integer sizes, one final double
    division (cross-engine exact)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


def sql_jaccard_expr(a: str, b: str) -> str:
    return (
        f"(CAST(len(list_intersect({a}, {b})) AS DOUBLE) "
        f"/ CAST(len(list_distinct(list_concat({a}, {b}))) AS DOUBLE))"
    )


# -- pure-Python XXH64 (Spark's xxhash64 twin) --------------------------------

_XX_P1 = 0x9E3779B185EBCA87
_XX_P2 = 0xC2B2AE3D27D4EB4F
_XX_P3 = 0x165667B19E3779F9
_XX_P4 = 0x85EBCA77C2B2AE63
_XX_P5 = 0x27D4EB2F165667C5
_XX_M = (1 << 64) - 1


def _xx_rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _XX_M


def xxhash64_py(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data``, bit-identical to Spark's ``F.xxhash64`` on a
    string column (Spark hashes the UTF-8 bytes with seed 42 and
    returns the SIGNED 64-bit value — so does this). Lets driver-side
    plumbing (the query-term → lex_bucket mapping in
    ``operators.fts_index.read_posting_lists``) compute the engine's
    partition key without launching a Spark job per probe. Equality
    with ``F.xxhash64`` is pinned over the corpus vocabulary plus edge
    cases in tests/test_plans.py::test_xxhash64_py_matches_spark."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XX_P1 + _XX_P2) & _XX_M
        v2 = (seed + _XX_P2) & _XX_M
        v3 = seed & _XX_M
        v4 = (seed - _XX_P1) & _XX_M
        while i <= n - 32:
            v1 = (_xx_rotl((v1 + int.from_bytes(data[i:i + 8], "little") * _XX_P2) & _XX_M, 31) * _XX_P1) & _XX_M
            v2 = (_xx_rotl((v2 + int.from_bytes(data[i + 8:i + 16], "little") * _XX_P2) & _XX_M, 31) * _XX_P1) & _XX_M
            v3 = (_xx_rotl((v3 + int.from_bytes(data[i + 16:i + 24], "little") * _XX_P2) & _XX_M, 31) * _XX_P1) & _XX_M
            v4 = (_xx_rotl((v4 + int.from_bytes(data[i + 24:i + 32], "little") * _XX_P2) & _XX_M, 31) * _XX_P1) & _XX_M
            i += 32
        h = (_xx_rotl(v1, 1) + _xx_rotl(v2, 7) + _xx_rotl(v3, 12) + _xx_rotl(v4, 18)) & _XX_M
        for v in (v1, v2, v3, v4):
            h = ((h ^ (_xx_rotl((v * _XX_P2) & _XX_M, 31) * _XX_P1) & _XX_M) * _XX_P1 + _XX_P4) & _XX_M
    else:
        h = (seed + _XX_P5) & _XX_M
    h = (h + n) & _XX_M
    while i + 8 <= n:
        k = (int.from_bytes(data[i:i + 8], "little") * _XX_P2) & _XX_M
        h = (h ^ (_xx_rotl(k, 31) * _XX_P1) & _XX_M)
        h = (_xx_rotl(h, 27) * _XX_P1 + _XX_P4) & _XX_M
        i += 8
    if i + 4 <= n:
        h = h ^ ((int.from_bytes(data[i:i + 4], "little") * _XX_P1) & _XX_M)
        h = (_xx_rotl(h, 23) * _XX_P2 + _XX_P3) & _XX_M
        i += 4
    while i < n:
        h = h ^ ((data[i] * _XX_P5) & _XX_M)
        h = (_xx_rotl(h, 11) * _XX_P1) & _XX_M
        i += 1
    h ^= h >> 33
    h = (h * _XX_P2) & _XX_M
    h ^= h >> 29
    h = (h * _XX_P3) & _XX_M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h
