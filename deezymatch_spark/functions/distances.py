"""Vector distance expressions over array<float> columns.

Pure Catalyst (``zip_with``/``aggregate``) so distances run inside
whole-stage codegen and are DuckDB-oracle-checkable. Semantics match
the reference: "faiss distance" is SQUARED L2 (IndexFlatL2 convention,
DeezyMatch/candidateRanker.py:361-364,443-445); cosine distance is
``1 - cosine_similarity`` (candidateRanker.py:420-429).

For very wide vectors or giant pair sets the numpy block scorer in
``deezymatch_spark.model.scorer_udf`` is the alternative; at 64-120
dims the codegen'd expression wins (no Arrow transfer).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["dot", "l2_norm", "sq_l2", "cosine_sim", "cosine_dist"]


def _dsum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda s, x: s + x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return _dsum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 — the reference's 'faiss_dist'."""
    return _dsum(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
    )


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity; 0 when either vector has zero norm (the
    sklearn ``cosine_similarity`` convention the reference's D2 uses).
    Guarding the division also keeps ANSI mode from aborting the job
    with DIVIDE_BY_ZERO on one zero vector."""
    den = l2_norm(a) * l2_norm(b)
    return F.when(den == 0.0, F.lit(0.0)).otherwise(dot(a, b) / den)


def cosine_dist(a: Column, b: Column) -> Column:
    """1 - cosine similarity (candidateRanker.py:426); 1.0 against a
    zero-norm vector."""
    return F.lit(1.0) - cosine_sim(a, b)
