"""Vector math on array<float>/array<double> columns -- entirely JVM-side
(F.zip_with + F.aggregate stay inside codegen; no Python worker hop).

Used by the similarity-search and embedding-dedup operators over the
`embeddings` table (embedding ARRAY<FLOAT>).

Precision note: accumulate in DOUBLE with deterministic left-to-right
array order -- the float32 source values are cast up first, so Spark and
DuckDB (`list_dot_product(x::DOUBLE[], ...)`) agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column | list[float]) -> Column:
    if isinstance(v, list):
        return F.array(*[F.lit(float(x)) for x in v])
    return v.cast("array<double>")


def dot(a: Column | list[float], b: Column | list[float]) -> Column:
    """Sequential-order dot product in double precision."""
    prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | list[float]) -> Column:
    return F.sqrt(dot(a, a))


def _py_norm(v: list[float]) -> float:
    return sum(float(x) * float(x) for x in v) ** 0.5


def cosine(a: Column | list[float], b: Column | list[float]) -> Column:
    """Cosine similarity; NULL-safe for zero vectors (returns NULL).

    When either side is a Python literal its norm is computed driver-side
    (a float constant in the plan) instead of as a per-row HOF fold --
    array HOF lambdas evaluate interpreted per element, so every fold
    removed is a real win on wide embedding columns.
    """
    norm_a = F.lit(_py_norm(a)) if isinstance(a, list) else norm(_as_double(a))
    norm_b = F.lit(_py_norm(b)) if isinstance(b, list) else norm(_as_double(b))
    denom = norm_a * norm_b
    return F.when(denom != 0, dot(a, b) / denom)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes for sign-LSH.

    Driver-side constants (n_planes x dim floats) baked into the plan as
    literals -- no broadcast needed at any scale.
    """
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two packed 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def attach_sign_bits(df, planes: list[list[float]], vec_col: str = "embedding", out: str = "lsh_sig"):
    """Arrow-batched sign-LSH signatures: one (n x dim) @ (dim x n_planes)
    numpy matmul per batch, packed into a LONG column appended to the input.

    This replaces n_planes interpreted HOF folds per row with one BLAS call
    per Arrow batch -- the engine's one signature computation.
    Sign flips vs sequential summation require |dot| ~ 1e-16, measure-zero
    with Gaussian planes; downstream candidates are exact-verified anyway.
    """
    import numpy as np
    import pandas as pd

    assert len(planes) <= 63, "signature must fit a signed 64-bit long"
    from pyspark.sql.types import LongType, StructField, StructType

    mat = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)
    weights = (1 << np.arange(mat.shape[1], dtype=np.uint64)).astype(np.int64)
    schema = StructType(list(df.schema.fields) + [StructField(out, LongType())])

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # NULL vectors get a NULL signature (they can bucket with
            # nothing); a raw np.asarray would crash the whole job on the
            # first NULL row -- the classic one-bad-record failure mode
            mask = pdf[vec_col].notna().to_numpy()
            sig = pd.array([None] * len(pdf), dtype="Int64")
            if mask.any():
                vecs = np.asarray(pdf[vec_col][mask].tolist(), dtype=np.float64)
                bits = (vecs @ mat) >= 0  # (m, n_planes) bool
                sig[mask] = (bits * weights).sum(axis=1)
            pdf[out] = sig
            yield pdf

    # a one-file embeddings scan arrives as ONE partition (the r11
    # ensure_min_partitions find) -- spread before the Arrow kernel or
    # every signature computes in a single task
    from ..operators.dedup import ensure_min_partitions

    return ensure_min_partitions(df).mapInPandas(fn, schema)


def l2_squared(a: Column | list[float], b: Column | list[float]) -> Column:
    """Squared Euclidean distance in double precision (sequential fold
    order, same discipline as `dot`). Squared -- not rooted -- because
    every ranking consumer only needs the monotone order and the oracle
    twin replays one fewer IEEE op."""
    diffs = F.zip_with(_as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)
