"""Vector math over ``array<float>`` embedding columns.

Built-in higher-order functions (``zip_with`` + ``aggregate``) keep
the arithmetic JVM-side in double precision — no UDF, no Arrow hop —
so similarity scans vectorize inside whole-stage codegen. At 100 TB
scale this is the difference between a pure columnar scan and a
Python round-trip per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Double-precision dot product of two numeric arrays.

    ``zip_with`` + ``aggregate`` on purpose: a single ``aggregate``
    over element indices (``acc + a[i]*b[i]``, no product array)
    computes the same bits but measured ~1.8x slower (8k × 32-dim
    vectors against 16 centroids, local[4]) — the interpreted
    per-element index lookups cost more than the intermediate array."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    prod = F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    sq = F.aggregate(
        ca, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return F.sqrt(sq)


def cosine_from_norms(
    a: Column | str, b: Column | str, na: Column | str, nb: Column | str
) -> Column:
    """cos(a,b) from norms computed ELSEWHERE — e.g. once per row on
    each side of a join, so a pair costs one dot product instead of a
    dot product and two norms. ``na``/``nb`` must be :func:`l2_norm`
    of ``a``/``b``; the result is then bit-identical to
    :func:`cosine_similarity`."""
    na = F.col(na) if isinstance(na, str) else na
    nb = F.col(nb) if isinstance(nb, str) else nb
    d = dot(a, b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(None).cast("double"))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a,b) in double precision; null-safe on zero norms."""
    return cosine_from_norms(a, b, l2_norm(a), l2_norm(b))


def normalize(a: Column | str) -> Column:
    """Unit-normalize an array column (double). Pre-normalizing the
    corpus once turns every cosine into a dot product — at scale, do
    this at ingest and store the normalized vector."""
    ca = F.col(a) if isinstance(a, str) else a
    n = l2_norm(ca)
    return F.when(n > 0, F.transform(ca, lambda x: x.cast("double") / n)).otherwise(
        F.lit(None).cast("array<double>")
    )
