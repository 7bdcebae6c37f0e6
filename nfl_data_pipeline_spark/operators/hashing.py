"""Cross-engine deterministic hashing primitives.

Dedup (MinHash / SimHash) needs a token→integer hash that (a) runs
partition-parallel with no global state and (b) is reproducible
outside Spark so the DuckDB oracle can verify it. Spark's xxhash64 /
murmur are not portable to DuckDB; a global dense_rank vocabulary is
portable but serializes a 100 TB job through one giant shuffle.

Solution: a 31-polynomial rolling hash over code points, mod a large
prime — expressible as a left fold in both engines (Spark
``aggregate`` over ``split(s, '')``, DuckDB ``list_reduce``), exact
integer math, embarrassingly parallel, and bit-identical across
engines (verified in tests).

All helpers return SQL strings: ``sp_*`` for Spark SQL, ``duck_*``
for DuckDB.
"""

from __future__ import annotations

P = 1_000_000_007  # modulus for all integer hashing

# MinHash permutations h_i(x) = (a*x + b) mod P — fixed odd constants.
MINHASH_PERMS: list[tuple[int, int]] = [
    (387_461_209, 1),
    (77_612_843, 911_623),
    (912_384_721, 123_457),
    (215_467_829, 777_001),
    (591_238_471, 444_929),
    (133_984_127, 98_765_431),
    (712_938_461, 5_551_217),
    (871_236_547, 31_337),
]
N_BANDS = 4  # 4 bands × 2 rows — LSH banding over the 8-perm signature

# SimHash bit projections g_j(x) = ((A*x + B) mod P) mod 2.
# 64 bits, NOT 16: the fingerprint width is the banding key space.
# With a 16-bit hash each 4-bit band had 16 possible values, so band
# buckets grew O(corpus/16) and the candidate join was quadratic at
# any real scale (measured: 157 s at a 50k-doc tier that the 64-bit
# form handles in seconds). 64 bits / 3 bands gives 2^21+ values per
# band — buckets stay near-singleton until documents are genuinely
# near-identical.
SIMHASH_BITS: list[tuple[int, int]] = [
    (389 + 2 * j, 104_729 + 7 * j * j) for j in range(64)
]

def simhash_bands(n_bands: int) -> list[tuple[int, int]]:
    """Pigeonhole band layout over 64 bits as (bit_offset, width):
    ``max_hamming`` flipped bits leave ≥1 of ``max_hamming + 1`` bands
    intact. Wider bands (fewer) = stricter matching + smaller buckets;
    short documents need a larger hamming budget (a one-word edit on a
    ~45-shingle doc lands at hamming ~4-9) and thus more, narrower
    bands."""
    base, extra = divmod(64, n_bands)
    layout, off = [], 0
    for i in range(n_bands):
        width = base + (1 if i < extra else 0)
        layout.append((off, width))
        off += width
    return layout


# Default layout for the oracle-pinned max_hamming = 2.
SIMHASH_BANDS: list[tuple[int, int]] = simhash_bands(3)


def simhash_bit_weight(j: int) -> int:
    """Two's-complement weight of bit j in a signed 64-bit word (bit
    63 is the sign bit, so its weight is -(2^63))."""
    return (1 << j) if j < 63 else -(1 << 63)


def sp_rolling_hash(expr: str) -> str:
    """Spark SQL: 31-polynomial rolling hash of a string expression."""
    return (
        f"aggregate(transform(split({expr}, ''), c -> cast(ascii(c) as bigint)), "
        f"cast(0 as bigint), (h, c) -> (h * 31 + c) % {P})"
    )


def duck_rolling_hash(expr: str) -> str:
    """DuckDB: same fold, same result."""
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(string_split({expr}, ''), c -> ascii(c)::BIGINT)), "
        f"(h, c) -> (h * 31 + c) % {P})"
    )


# Combining multiplier for shingle-id composition from token hashes.
A = 1_000_003

# Deterministic train/val/test assignment (the hash-split family).
SPLIT_A, SPLIT_B, SPLIT_P = 387_461_209, 911_623, 1_000_000_007


def affine_hash(
    expr: str, a: int = SPLIT_A, b: int = SPLIT_B, p: int = SPLIT_P
) -> str:
    """``((key % p) * a + b) % p`` — the same string is valid Spark
    SQL and DuckDB SQL (integer ``%`` agrees for the non-negative
    values produced here). The key is reduced mod p BEFORE the
    multiply so the product stays < p * a < 2^63 at ANY key magnitude
    (the naive ``key * a`` form wraps int64 once keys pass 2^63 / a —
    silently negative in Spark, an overflow ERROR in DuckDB —
    reachable for row ids at the 100 TB tier). NEGATIVE keys (signed
    hash-derived ids) are mapped into [0, p) via the portable
    double-mod — both engines' ``%`` keeps the dividend's sign, so a
    single mod would yield negative buckets and e.g. send every
    negative-id row to the first split bucket. Callers must keep
    p * a < 2^63."""
    return f"((((({expr}) % {p}) + {p}) % {p}) * {a} + {b}) % {p}"


def split_bucket(expr: str) -> str:
    """0-99 split bucket over an integer key (shared Spark/DuckDB)."""
    return f"{affine_hash(expr)} % 100"


def split_case(expr: str, train: int = 80, val: int = 90) -> str:
    """CASE mapping a split_bucket to 'train'/'val'/'test' — shared
    between Spark SQL and DuckDB oracles."""
    b = split_bucket(expr)
    return (
        f"CASE WHEN {b} < {train} THEN 'train' "
        f"WHEN {b} < {val} THEN 'val' ELSE 'test' END"
    )


def sp_token_hashes(tokens: str) -> str:
    """Spark SQL: rolling hash of each token (hash once per token —
    an order of magnitude cheaper than hashing every shingle string)."""
    return (
        f"transform({tokens}, t -> "
        f"aggregate(transform(split(t, ''), c -> cast(ascii(c) as bigint)), "
        f"cast(0 as bigint), (h, c) -> (h * 31 + c) % {P}))"
    )


def duck_token_hashes(tokens: str) -> str:
    return (
        f"list_transform({tokens}, t -> "
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(string_split(t, ''), c -> ascii(c)::BIGINT)), "
        f"(h, c) -> (h * 31 + c) % {P}))"
    )


def _poly_compose(th: str, n: int, offset: str = "i + ") -> str:
    """Horner-compose n consecutive token hashes into one shingle id:
    sid = fold_k (h*A + th[i+k]) % P. For n=3 this is exactly the
    historical ((h1*A + h2) % P * A + h3) % P expression."""
    expr = f"{th}[{offset}0]"
    for k in range(1, n):
        expr = f"(({expr}) * {A} + {th}[{offset}{k}]) % {P}"
    return expr


def sp_shingle_ids(th: str, n: int = 3) -> str:
    """Spark SQL: word n-gram shingle ids composed from a token-hash
    array (0-indexed)."""
    return (
        f"CASE WHEN size({th}) < {n} THEN array() "
        f"ELSE transform(sequence(0, size({th}) - {n}), i -> "
        f"{_poly_compose(th, n)}) END"
    )


def duck_shingle_ids(th: str, n: int = 3) -> str:
    """DuckDB: same composition, 1-indexed lists (range upper bound
    exclusive and empty when len < n)."""
    return (
        f"list_transform(range(1, len({th}) - {n - 2}), i -> "
        f"{_poly_compose(th, n)})"
    )


def sp_dot(a: str, b: str, dim: int | None = None) -> str:
    """Spark SQL: sequential left-fold dot product of two double arrays
    (bit-identical to the DuckDB fold below).

    With ``dim`` given (fixed-width embedding columns), emits the fold
    fully unrolled — ``0.0 + a[0]*b[0] + a[1]*b[1] + ...`` — the same
    left-associated FP addition order (still bit-identical to the
    oracle) as straight-line codegen instead of a per-pair lambda.
    Measured caveat: at 64 dims the giant expression tree (duplicated
    into join conditions and null constraints by the optimizer) costs
    more in planning/codegen than it saves in execution — the fold
    beat it ~2× end-to-end at sf0.1 — so callers default to the fold;
    the unrolled form is kept for genuinely hot, plan-once loops.
    """
    if dim is not None:
        terms = " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(dim))
        return f"(cast(0.0 as double) + {terms})"
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"cast(0.0 as double), (s, v) -> s + v)"
    )


def duck_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i])), "
        f"(s, v) -> s + v)"
    )


# ---- Spark murmur3 mirror ------------------------------------------------
# The random-hyperplane LSH planes (operators/similarity.py:
# _hyperplane_proj) derive their weights from Spark's built-in
# ``hash(plane_id, d)`` so any executor reproduces them with no stored
# state. The DuckDB oracle can't call Spark — but the weights are pure
# constants, so this exact Python mirror of Murmur3 x86_32 (the public
# algorithm Spark's ``hash`` applies to int inputs, seed 42, chained
# across arguments) lets the oracle inline them as literals.
# Verified bit-equal to ``F.hash(int, int)`` in tests/test_functions.py.

_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def spark_murmur3_int(x: int, seed: int) -> int:
    """Murmur3 x86_32 of one 32-bit int, as Spark's ``hash`` computes
    it (hashInt + 4-byte finalization). Returns a SIGNED int32."""
    k1 = (x & _M32) * 0xCC9E2D51 & _M32
    k1 = _rotl32(k1, 15)
    k1 = k1 * 0x1B873593 & _M32
    h1 = (seed & _M32) ^ k1
    h1 = _rotl32(h1, 13)
    h1 = (h1 * 5 + 0xE6546B64) & _M32
    h1 ^= 4  # length in bytes
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & _M32
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def spark_hash_ints(*xs: int) -> int:
    """``F.hash(a, b, ...)`` over int32 columns: seed 42, each field's
    full hashInt feeds the next as seed."""
    h = 42
    for x in xs:
        h = spark_murmur3_int(x, h)
    return h


def plane_weight(plane_id: int, d: int) -> float:
    """The exact double weight ``_hyperplane_proj`` derives for plane
    ``plane_id``, dimension ``d``: signed hash / 2^32 ∈ [-0.5, 0.5).
    Dyadic rational — repr() round-trips exactly into any SQL parser."""
    return spark_hash_ints(plane_id, d) / 4294967296.0


def gate_minhash_perms(n: int) -> list[tuple[int, int]]:
    """``n`` fixed MinHash permutations ``h_i(x) = (a_i*x + b_i) % P``
    for the incremental near-dup gate (streaming/neardup.py), derived
    from the murmur mirror so they are stable constants — a registry
    written today stays probe-compatible forever. More perms than the
    8-perm demo signature: banding recall at the gate threshold is
    1-(1-J^r)^L, and 16 bands × 2 rows needs 32 components to reach
    ~0.99 candidate recall at J=0.5 (SCALING.md gate-recall study)."""
    perms = []
    for i in range(n):
        a = (spark_hash_ints(2 * i, 1_234_567) % (P - 1)) + 1
        b = spark_hash_ints(2 * i + 1, 7_654_321) % P
        perms.append((a, b))
    return perms
