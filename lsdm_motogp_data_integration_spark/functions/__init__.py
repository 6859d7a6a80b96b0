"""Scalar function library (string / date / similarity / conversion).

Replaces the reference's Kettle scalar steps (StringOperations,
ReplaceString, ConcatFields, FieldSplitter — SURVEY.md §2.8) and its
FuzzyMatch similarity measure (``motogp.ktr:3042``) with Spark built-ins
plus a vectorized Jaro-Winkler Pandas UDF — the one Jaro-Winkler scorer
in plans, checked against the pure-Python ``jaro_winkler_similarity``.
"""

from lsdm_motogp_data_integration_spark.functions.similarity import (
    jaro_similarity,
    jaro_winkler_similarity,
    jaro_winkler_udf,
)
from lsdm_motogp_data_integration_spark.functions.text import (
    code_map_expr,
    name_from_comma,
    name_from_surname_first,
    normalize_name,
    strip_trademark,
    to_date_multi,
)

__all__ = [
    "jaro_similarity",
    "jaro_winkler_similarity",
    "jaro_winkler_udf",
    "normalize_name",
    "name_from_comma",
    "name_from_surname_first",
    "strip_trademark",
    "to_date_multi",
    "code_map_expr",
]
