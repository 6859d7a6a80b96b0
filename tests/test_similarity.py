"""Jaro-Winkler: golden values, DuckDB parity, UDF plumbing."""

from __future__ import annotations

import duckdb
import pytest

from lsdm_motogp_data_integration_spark.functions.similarity import (
    jaro_similarity,
    jaro_winkler_similarity,
    jaro_winkler_udf,
)

GOLDEN = [
    # classic textbook pairs
    ("MARTHA", "MARHTA", 0.9611111111111111),
    ("DIXON", "DICKSONX", 0.8133333333333332),
    ("JELLYFISH", "SMELLYFISH", 0.8962962962962964),
]


@pytest.mark.parametrize("a,b,expected", GOLDEN)
def test_golden_pairs(a, b, expected):
    assert jaro_winkler_similarity(a, b) == pytest.approx(expected, abs=1e-12)


def test_edges():
    assert jaro_winkler_similarity("", "") == 0.0  # DuckDB convention
    assert jaro_winkler_similarity("a", "") == 0.0
    assert jaro_winkler_similarity("abc", "abc") == 1.0
    assert 0.0 <= jaro_similarity("ab", "ba") <= 1.0


def test_matches_duckdb_exhaustively():
    con = duckdb.connect()
    import random
    import string

    random.seed(123)
    pairs = [
        (
            "".join(random.choices(string.ascii_lowercase + " ", k=random.randint(0, 12))),
            "".join(random.choices(string.ascii_lowercase + " ", k=random.randint(0, 12))),
        )
        for _ in range(500)
    ]
    for a, b in pairs:
        d = con.execute(
            "select jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert jaro_winkler_similarity(a, b) == pytest.approx(d, abs=1e-12), (a, b)


def test_udf(spark):
    df = spark.createDataFrame(
        [("martha", "marhta"), ("abc", None)], ["a", "b"]
    )
    rows = df.select(jaro_winkler_udf("a", "b").alias("s")).collect()
    assert rows[0]["s"] == pytest.approx(0.9611111111111111, abs=1e-12)
    assert rows[1]["s"] is None
