"""Engine-portable deterministic hashing for dedup sketches.

MinHash/SimHash need a token→int64 hash that is IDENTICAL in Spark and in
the DuckDB oracle. Spark's xxhash64/hash are engine-specific, so we derive
a 60-bit integer from md5 (both engines agree on md5): the first 15 hex
chars → bigint. Permutations are universal hashes
``(a * (h mod P) + b) mod P`` with P = 2^31-1 and fixed (a, b) parameters
generated once from a seeded PRNG and embedded as literals on both sides —
``h mod P`` first keeps every product inside int64.

At 100 TB these sketches are the scale path for near-dedup: signatures are
computed in a single map-side pass (no shuffle), then candidate
generation shuffles only (band_key → doc_id) pairs — never full texts.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = (1 << 31) - 1  # 2^31 - 1, prime

_rng = random.Random(42)
#: 32 (a, b) permutation parameters, fixed for the life of the engine.
MINHASH_PARAMS: list[tuple[int, int]] = [
    (_rng.randrange(1, MERSENNE_P), _rng.randrange(0, MERSENNE_P)) for _ in range(32)
]
MINHASH_BANDS = 8
MINHASH_ROWS = 4  # 8 bands × 4 rows = 32 signature slots


def token_hash(col: Column) -> Column:
    """First 15 hex chars of md5 → non-negative 60-bit bigint (portable)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def token_hash_sql(expr: str) -> str:
    """DuckDB twin of :func:`token_hash`."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def perm_hash(h: Column, a: int, b: int) -> Column:
    return (F.lit(a) * (h % MERSENNE_P) + F.lit(b)) % MERSENNE_P


def perm_hash_sql(h: str, a: int, b: int) -> str:
    return f"(({a} * ({h} % {MERSENNE_P})) + {b}) % {MERSENNE_P}"


def minhash_signature(hashed_shingles: Column | str) -> Column:
    """array<long> of 32 minhash slots over an array of shingle hashes.

    Pass a column-name string to build the identical expression as ONE
    parsed SQL string instead of ~200 py4j-constructed Column objects —
    driver-side plan construction of the 32-permutation array costs
    ~1 s per call on a slow py4j link (guide §7.3); the parsed form is
    the same Catalyst tree."""
    if isinstance(hashed_shingles, str):
        slots = ", ".join(
            f"array_min(transform({hashed_shingles}, "
            f"h -> {perm_hash_sql('h', a, b)}))"
            for a, b in MINHASH_PARAMS
        )
        return F.expr(f"array({slots})")
    return F.array(
        *[
            F.array_min(F.transform(hashed_shingles, lambda h: perm_hash(h, a, b)))
            for a, b in MINHASH_PARAMS
        ]
    )


def minhash_signature_sql(hashed: str) -> str:
    slots = ", ".join(
        f"list_aggregate(list_transform({hashed}, h -> {perm_hash_sql('h', a, b)}), 'min')"
        for a, b in MINHASH_PARAMS
    )
    return f"[{slots}]"


def band_keys(
    sig: str, bands: int = MINHASH_BANDS, rows: int = MINHASH_ROWS
) -> Column:
    """array<string>: md5 key per LSH band of the signature column
    ``sig``, each band ``rows`` consecutive slots. The band index is
    folded into the hashed string so keys from different bands can
    never join — a single equi-join on the key column is then
    sufficient. Built as one parsed SQL string (see
    minhash_signature)."""
    keys = []
    for band in range(bands):
        parts = ", ".join(
            f"CAST(element_at({sig}, {band * rows + r + 1}) AS STRING)"
            for r in range(rows)
        )
        keys.append(f"md5(concat_ws(',', '{band}', {parts}))")
    return F.expr(f"array({', '.join(keys)})")


def band_keys_sql(
    sig: str, bands: int = MINHASH_BANDS, rows: int = MINHASH_ROWS
) -> str:
    keys = []
    for band in range(bands):
        parts = ", ".join(
            f"CAST({sig}[{band * rows + r + 1}] AS VARCHAR)"
            for r in range(rows)
        )
        keys.append(f"md5(concat_ws(',', '{band}', {parts}))")
    return f"[{', '.join(keys)}]"


SIMHASH_BITS = 16


def simhash(hashed_tokens: Column | str) -> Column:
    """16-bit SimHash over an array of token hashes (distinct tokens).

    String input builds the same expression as one parsed SQL string
    (see minhash_signature)."""
    if isinstance(hashed_tokens, str):
        terms = []
        for j in range(SIMHASH_BITS):
            weight = (
                f"aggregate({hashed_tokens}, CAST(0 AS BIGINT), "
                f"(acc, h) -> acc + (shiftright(h, {j}) & 1) * 2 - 1)"
            )
            terms.append(f"(CASE WHEN {weight} > 0 THEN {1 << j} ELSE 0 END)")
        return F.expr(f"CAST({' + '.join(terms)} AS BIGINT)")

    def bit_vote(j: int):
        # factory keeps the merge lambda strictly 2-ary (PySpark inspects
        # lambda arity to bind higher-order-function variables)
        return lambda acc, h: acc + (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1)

    bit_terms = []
    for j in range(SIMHASH_BITS):
        weight = F.aggregate(hashed_tokens, F.lit(0).cast("long"), bit_vote(j))
        bit_terms.append(F.when(weight > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    total = bit_terms[0]
    for t in bit_terms[1:]:
        total = total + t
    return total.cast("long")


def simhash_sql(hashed: str) -> str:
    terms = []
    for j in range(SIMHASH_BITS):
        weight = f"list_aggregate(list_transform({hashed}, h -> 2 * ((h >> {j}) & 1) - 1), 'sum')"
        terms.append(f"(CASE WHEN {weight} > 0 THEN {1 << j} ELSE 0 END)")
    return f"CAST({' + '.join(terms)} AS BIGINT)"
