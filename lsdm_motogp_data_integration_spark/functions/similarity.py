"""Jaro / Jaro-Winkler string similarity.

The reference's FuzzyMatch steps use Jaro-Winkler nearest-neighbor
lookup (``algorithm=jarowinkler``, ``motogp.ktr:3042`` and ``:3132``,
case-insensitive, ``closervalue=Y`` = return single best match). Spark
has no built-in Jaro-Winkler (only ``levenshtein``), so this module
provides:

- a pure-Python reference implementation (standard Winkler variant:
  prefix scale p=0.1, max prefix 4, boost threshold 0.7 — the same
  definition DuckDB's ``jaro_winkler_similarity`` implements, which the
  oracle tests verify), and
- an Arrow-vectorized Pandas UDF for use inside DataFrame plans.

Per SURVEY.md §4.2 this is one of the two genuinely custom operators the
engine needs; the join pattern built on it lives in
``operators/fuzzy.py``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def jaro_similarity(s1: str, s2: str) -> float:
    """Standard Jaro similarity in [0, 1]."""
    len1, len2 = len(s1), len(s2)
    # empty strings score 0 even against each other (DuckDB convention)
    if len1 == 0 or len2 == 0:
        return 0.0
    if s1 == s2:
        return 1.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    s1_matched = [False] * len1
    s2_matched = [False] * len2
    matches = 0
    for i, c1 in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        for j in range(lo, hi):
            if not s2_matched[j] and s2[j] == c1:
                s1_matched[i] = True
                s2_matched[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions: matched chars, in order, that differ pairwise
    transpositions = 0
    j = 0
    for i in range(len1):
        if s1_matched[i]:
            while not s2_matched[j]:
                j += 1
            if s1[i] != s2[j]:
                transpositions += 1
            j += 1
    transpositions //= 2
    return (
        matches / len1 + matches / len2 + (matches - transpositions) / matches
    ) / 3.0


def jaro_winkler_similarity(
    s1: str,
    s2: str,
    *,
    prefix_scale: float = 0.1,
    boost_threshold: float = 0.7,
    max_prefix: int = 4,
) -> float:
    """Jaro-Winkler: Jaro boosted by shared prefix when above threshold."""
    jaro = jaro_similarity(s1, s2)
    if jaro <= boost_threshold:
        return jaro
    prefix = 0
    for c1, c2 in zip(s1[:max_prefix], s2[:max_prefix]):
        if c1 != c2:
            break
        prefix += 1
    return jaro + prefix * prefix_scale * (1.0 - jaro)


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(left: pd.Series, right: pd.Series) -> pd.Series:
    """Vectorized (Arrow-batched) Jaro-Winkler over two string columns.

    Python-looped per element but batched per Arrow chunk — the hot path
    stays off the row-at-a-time pickling path. At cluster scale a
    C-backed implementation can be swapped in here without changing any
    caller (the UDF signature is the contract).
    """
    out = [
        None
        if a is None or b is None
        else jaro_winkler_similarity(a, b)
        for a, b in zip(left, right)
    ]
    return pd.Series(out, dtype="float64")
