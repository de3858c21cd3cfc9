"""Arrow-batched pandas UDFs — the parity path.

Only what genuinely can't be a Catalyst expression lives here:

- ``normalize_udf``: full normalizeString parity (NFKD has no Spark SQL
  builtin; ≙ DeezyMatch/utils.py:25-42 via deezymatch_spark.text).
- ``tokenize_udf``: exact-order string_split parity (utils.py:99-137).
- ``encode_udf``: vocab encode with unknown-drop
  (data_processing.py:368-375); vocab dict captured in the closure and
  shipped once per task via the serialized UDF (small — broadcast-like).
- ``jaro_winkler_udf``: no Spark builtin; numpy per batch.

All are Series→Series scalar pandas UDFs (Arrow transfer, no per-row
Python crossing the JVM boundary).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, StringType

from ..text import normalize_string, string_split

__all__ = [
    "normalize_series",
    "normalize_udf",
    "tokenize_udf",
    "jaro_winkler",
    "jaro_winkler_udf",
]


def normalize_series(s: pd.Series) -> pd.Series:
    """``normalize_string`` per row, None kept as None: the mapping
    behind ``normalize_udf`` and the UDFs that normalize inside their
    own Arrow pass."""
    return s.map(lambda x: normalize_string(x) if x is not None else None)


@pandas_udf(StringType())
def normalize_udf(s: pd.Series) -> pd.Series:
    return normalize_series(s)


def tokenize_udf(
    tokenize: Sequence[str] = ("char",),
    min_gram: int = 1,
    max_gram: int = 3,
    token_sep: str = "default",
    prefix_suffix=("|", "|"),
):
    """Returns a pandas UDF producing exact-order token arrays."""

    @pandas_udf(ArrayType(StringType()))
    def _tok(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: string_split(
                x,
                tokenize=tokenize,
                min_gram=min_gram,
                max_gram=max_gram,
                token_sep=token_sep,
                prefix_suffix=prefix_suffix,
            )
            if x is not None
            else None
        )

    return _tok


def jaro_winkler(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    """Jaro-Winkler similarity, standard definition (boost only when
    jaro > 0.7, prefix capped at 4), computed over UTF-8 BYTES —
    byte-level matches DuckDB's ``jaro_winkler_similarity`` exactly, so
    the oracle can cross-check (codepoint-level JW diverges on
    non-ASCII)."""
    s1 = s1.encode("utf-8")
    s2 = s2.encode("utf-8")
    n1, n2 = len(s1), len(s2)
    if n1 == 0 or n2 == 0:
        return 0.0  # DuckDB convention: empty vs anything (incl empty) = 0
    if s1 == s2:
        return 1.0
    window = max(n1, n2) // 2 - 1
    if window < 0:
        window = 0
    m1 = np.zeros(n1, dtype=bool)
    m2 = np.zeros(n2, dtype=bool)
    matches = 0
    for i in range(n1):
        lo = max(0, i - window)
        hi = min(n2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s1[i] == s2[j]:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(n1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    # rapidfuzz/DuckDB convention: transposition count is floored
    jaro = (matches / n1 + matches / n2 + (matches - t // 2) / matches) / 3.0
    if jaro > 0.7:
        prefix = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a == b:
                prefix += 1
            else:
                break
        jaro += prefix * prefix_weight * (1.0 - jaro)
    return jaro


@pandas_udf(DoubleType())
def jaro_winkler_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    out = np.empty(len(s1), dtype=np.float64)
    a = s1.to_numpy(dtype=object)
    b = s2.to_numpy(dtype=object)
    for i in range(len(out)):  # Arrow-batched; strings are short keys
        out[i] = (
            jaro_winkler(a[i], b[i]) if a[i] is not None and b[i] is not None else np.nan
        )
    return pd.Series(out)
