"""Vector kernels (dot / cosine / squared-L2 / LSH bucket): one path
per call shape, chosen by the call site.

Every path performs, per row, the exact sequence of correctly-rounded
IEEE-754 double ops (widen to double, multiply, left-fold add from
0.0, sqrt, divide) that the DuckDB ``list_reduce`` oracle performs, so
float parity holds whichever shape a query uses. The numpy paths get
it from a COLUMN-WISE left fold — ``acc = acc + prods[:, d]`` for
d = 0..dim-1 (:func:`fold_sum`); the Catalyst path from ``zip_with`` +
``aggregate``. The two are asserted bit-exact in
tests/test_vector_kernels.py.

The three shapes, and what the 1×/10×/100× probe measured for each
(local[32], embeddings 2k→200k rows, min-of-3 warm):

- **Per-row signatures and query-side distances** — a numpy column
  ``pandas_udf`` (:func:`sqdist`, :func:`bucket`). The per-row compute
  is heavy enough to repay the Arrow round-trip: the 8-plane LSH
  bucket runs 2-3× faster than the Catalyst fold.
- **Streamed O(n·k) scoring** — ``mapInPandas`` (or a cogroup) with
  the small side (query matrix, centroids) in the UDF closure, built
  from :func:`stack` and :func:`fold_sum`
  (similarity._bruteforce_scored_stream, pipeline.kmeans_assign_stream,
  pipeline.fine_assign). The corpus crosses the Arrow boundary once,
  not once per pair: flat 0.88→0.95 s from 1× to 100× pair count
  (exponent ≈ 0.02), while the Catalyst fold grew 1.23→2.07 s, linear
  in pairs at ~100 µs/pair interpreted.
- **Pair-shaped re-rank and banded buckets** — the Catalyst fold
  (:func:`fold_cosine`, :func:`fold_bucket`). Both sides are large and
  joined into pair rows, so no side fits a closure, and a column UDF
  would ship BOTH 64-dim vectors through Arrow per pair while the fold
  computes in place. Candidates per query are bounded by the banding
  (corpus/2^bits per bucket), so the per-pair cost stays small: the
  whole banded query (bucket + re-rank) ran 0.35 s all-fold vs 0.67 s
  with the numpy kernels at 1×, 0.74 s vs 1.60 s at 10× (reused plan,
  warm), because an 8-plane codegen dot fold is cheap while each
  Python stage pays a fixed Arrow round-trip. The structural fix at
  extreme pair volume is to shrink the pair stream itself (PQ/ADC,
  where candidates carry 4 codes instead of vectors — operators/pq.py).
"""

# NOTE: no `from __future__ import annotations` here — pandas_udf
# resolves the pd.Series type hints at definition time, and PEP-563
# stringified hints defeat that inference.

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Catalyst fold (pinned order — matches DuckDB list_reduce)


def fold_dot(a: Column, b: Column) -> Column:
    """Left-fold dot product over double-cast elements."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def fold_cosine(a: Column, b: Column) -> Column:
    return fold_dot(a, b) / (F.sqrt(fold_dot(a, a)) * F.sqrt(fold_dot(b, b)))


def fold_sqdist(a: Column, b: Column) -> Column:
    """Left-fold squared L2 over (already double) elements: the
    reference :func:`sqdist` is pinned against in the tests."""
    diffs = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def fold_bucket(v: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane sign signature ('0'/'1' string), one codegen
    dot fold per plane."""
    bits = []
    for plane in planes:
        lit = F.array(*[F.lit(x) for x in plane])
        bits.append(F.when(fold_dot(v, lit) > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


# ---------------------------------------------------------------------------
# numpy (column-wise left fold — same op sequence per row)


def stack(s):
    """pd.Series of list/ndarray → (n, dim) float64 matrix. float32 →
    float64 widening is exact, matching Catalyst's float→double cast."""
    return np.stack(s.to_numpy()).astype(np.float64, copy=False)


def fold_sum(prods):
    """Left-fold sum over the LAST axis starting from 0.0 — per row the
    identical add sequence as ``F.aggregate(_, 0.0, acc + x)``."""
    acc = np.zeros(prods.shape[:-1], dtype=np.float64)
    for d in range(prods.shape[-1]):
        acc = acc + prods[..., d]
    return acc


@lru_cache(maxsize=1)
def _arrow_sqdist():
    @F.pandas_udf("double")
    def _sq(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series([], dtype="float64")
        d = stack(a) - stack(b)
        return pd.Series(fold_sum(d * d))

    return _sq


@lru_cache(maxsize=8)
def _arrow_bucket(planes):
    P = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)

    @F.pandas_udf("string")
    def _bkt(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="object")
        V = stack(v)  # (n, dim)
        acc = fold_sum(V[:, None, :] * P[None, :, :])  # (n, n_planes)
        bits = acc > 0
        return pd.Series(["".join("1" if x else "0" for x in row) for row in bits])

    return _bkt


def sqdist(a: Column, b: Column) -> Column:
    """Squared L2 distance as a numpy column UDF."""
    return _arrow_sqdist()(a, b)


def bucket(v: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane sign signature ('0'/'1' string) as a numpy
    column UDF. The plane matrix is baked into the kernel (broadcast
    with the UDF), so only the embedding column crosses the Arrow
    boundary."""
    return _arrow_bucket(tuple(tuple(p) for p in planes))(v)
