"""Vector scalar functions as native Catalyst expressions.

The reference scores KNN with sqlite-vec's ``vec_distance_cosine``
(/root/reference/internal/storage/vector_index.go:140-149) and converts
distance to similarity with ``1 - d/2``
(/root/reference/internal/mcp/search_sqlite.go:191-194). Here the same
math is ``zip_with`` + ``aggregate`` over ``array<float>`` — pure JVM
expressions inside whole-stage codegen, no Python in the hot path, so a
100 TB scoring scan is bounded by parquet read bandwidth, not serde.

All arithmetic is done in double precision (matching DuckDB's list
functions) so oracle comparisons agree to float64 rounding.

The scoring functions take SQL fragments — a quoted column name
(:func:`~project_cortex_spark.functions.sql.ident`) or a rendered
literal (:func:`~project_cortex_spark.functions.sql.literal`) — and
return ONE ``F.expr``: the whole cosine tree crosses Py4J as a single
string instead of one round trip per Column node (a 64-d query vector
as ``F.lit(list)`` cost ~500 round trips on its own). The parsed tree
is the one the Column API built.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sql import literal

# lambda variables of the generated expressions: a name no caller's
# column is expected to carry, since a lambda variable shadows a column
# of the same name inside the lambda body
_X, _Y, _ACC = "__vx", "__vy", "__vacc"


def _dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, ({_X}, {_Y}) -> "
        f"CAST({_X} AS DOUBLE) * CAST({_Y} AS DOUBLE)), "
        f"0.0D, ({_ACC}, {_X}) -> {_ACC} + {_X})"
    )


def _norm(a: str) -> str:
    return f"sqrt({_dot(a, a)})"


def _cosine(a: str, b: str) -> str:
    return f"({_dot(a, b)} / ({_norm(a)} * {_norm(b)}))"


def _cosine_distance(a: str, b: str) -> str:
    return f"(1.0D - {_cosine(a, b)})"


def dot_product(a: str, b: str) -> Column:
    """sum_i a_i*b_i in double precision."""
    return F.expr(_dot(a, b))


def l2_norm(a: str) -> Column:
    return F.expr(_norm(a))


def l2_normalize(a: str) -> Column:
    """Divide each component by the L2 norm (reference normalizes all
    embeddings at encode time: internal/embeddings-ffi/src/lib.rs:87)."""
    return F.expr(f"transform({a}, __vn -> CAST(__vn AS DOUBLE) / {_norm(a)})")


def cosine_similarity(a: str, b: str) -> Column:
    return F.expr(_cosine(a, b))


def cosine_distance(a: str, b: str) -> Column:
    """sqlite-vec cosine distance: 1 - cos(a,b), range [0, 2]."""
    return F.expr(_cosine_distance(a, b))


def similarity_score(a: str, b: str) -> Column:
    """The reference's user-facing score: 1 - distance/2 ∈ [0, 1]
    (search_sqlite.go:191-194)."""
    return F.expr(f"(1.0D - {_cosine_distance(a, b)} / 2.0D)")


def double_array(values) -> str:
    """A driver-side vector as an ``array<double>`` SQL fragment — the
    text form of ``F.lit(values).cast("array<double>")``."""
    return f"CAST({literal([float(v) for v in values])} AS ARRAY<DOUBLE>)"


def hyperplane_signature(a: str, planes: list[list[float]]) -> Column:
    """Random-hyperplane (sign) LSH signature: one character per plane,
    ``'1'`` where ``a · plane >= 0``, else ``'0'``, concatenated in plane
    order."""
    bits = ", ".join(
        f"CASE WHEN {_dot(a, literal(p))} >= 0 THEN '1' ELSE '0' END"
        for p in planes
    )
    return F.expr(f"concat({bits})")


def int8_max_abs(a: Column) -> Column:
    """max|a_i| in double precision — the int8 quantization scale
    numerator. Exposed so call sites can compute it ONCE per row as a
    projection column (see :func:`quantize_int8`'s ``max_abs`` note)."""
    return F.array_max(F.transform(a, lambda x: F.abs(x.cast("double"))))


def quantize_int8(a: Column, max_abs: Column | None = None) -> tuple[Column, Column]:
    """Symmetric per-vector int8 quantization: (scale, q) with
    scale = max|a_i| / 127 and q_i = floor(a_i/scale + 0.5) ∈ [-127,127].

    ``floor(x + 0.5)`` is used instead of ``round`` because Spark and
    DuckDB disagree on negative-half rounding; floor is bit-identical in
    both, which the oracle contract relies on. The all-zero vector maps
    to scale 0 / q all-zero.

    ``max_abs``: callers on a hot path should materialize
    ``int8_max_abs(a)`` as its own projection column and pass it here —
    the expression is referenced inside the per-element lambda, and
    Catalyst does not hoist common subexpressions out of lambda
    functions, so inlining it costs O(dim) array_max evaluations per
    row (O(dim²) total — measured as the dominant term of the int8 scan
    plans). Passing an attribute column makes the whole quantize chain
    O(dim) per row with bit-identical output.

    At 100 TB this is the storage play: 4 bytes → 1 byte per dimension
    (~75 % off the dominant column) while keeping cosine ordering —
    dequantize is q_i * scale, error ≤ scale/2 per component.
    """
    if max_abs is None:
        max_abs = int8_max_abs(a)
    scale = max_abs / F.lit(127.0)
    q = F.transform(
        a,
        lambda x: F.when(max_abs == 0.0, F.lit(0))
        .otherwise(F.floor(x.cast("double") / scale + F.lit(0.5)))
        .cast("int"),
    )
    return scale, q


def binary_code_half(a: Column, start: int) -> Column:
    """Sign-bit (1-bit) quantization of 32 consecutive dimensions packed
    into one BIGINT: bit j of the result is 1 iff ``a[start + j] > 0``.

    Two halves cover a 64-d vector (the testdata embedding width) in
    16 bytes of plain integer columns — 16× smaller than float32 — and
    keep everything downstream (XOR + popcount Hamming distance) inside
    whole-stage codegen. 32 bits per word, not 64, because the oracle
    replay must build the identical code in DuckDB, whose ``<<`` raises
    on a shift into the sign bit; two half-words sidestep signed-shift
    semantics entirely in both engines.

    The bit predicate is strict ``> 0`` (exact zeros and -0.0 map to 0),
    evaluated in double precision — bit-identical in Spark and DuckDB,
    so the code, the Hamming top-k over it, and the rerank chain are all
    hash-gateable like the int8 path.
    """
    pow2 = F.lit([1 << j for j in range(32)]).cast("array<long>")
    return F.aggregate(
        F.sequence(F.lit(start), F.lit(start + 31)),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.when(
            F.element_at(a, i + F.lit(1)).cast("double") > F.lit(0.0),
            F.element_at(pow2, i - F.lit(start - 1)),
        ).otherwise(F.lit(0).cast("long")),
    )


def hamming_distance_halves(
    lo_a: Column, hi_a: Column, lo_b: Column, hi_b: Column
) -> Column:
    """Hamming distance between two 64-bit codes stored as 2×32-bit
    halves: XOR + popcount per half, summed — three integer ops per
    comparison, the whole point of binary quantization at scale."""
    return (
        F.bit_count(lo_a.bitwiseXOR(lo_b)) + F.bit_count(hi_a.bitwiseXOR(hi_b))
    ).cast("long")


def dequantize_error(a: Column, scale: Column, q: Column) -> Column:
    """L2 norm of (a - q*scale): the reconstruction error of the
    quantized vector, summed in array order (deterministic fold — both
    engines left-fold, so the contract hash is stable)."""
    diff = F.zip_with(
        a, q, lambda x, qi: x.cast("double") - qi.cast("double") * scale
    )
    return F.sqrt(
        F.aggregate(diff, F.lit(0.0), lambda acc, d: acc + d * d)
    )
