"""Surrogate keys and the similarity join."""

from __future__ import annotations

from pyspark.sql import functions as F

from lsdm_motogp_data_integration_spark.functions.similarity import (
    jaro_winkler_similarity,
)
from lsdm_motogp_data_integration_spark.operators import fuzzy
from lsdm_motogp_data_integration_spark.operators.fuzzy import similarity_join
from lsdm_motogp_data_integration_spark.operators.keys import (
    add_surrogate_key,
    add_surrogate_key_distributed,
)
from lsdm_motogp_data_integration_spark.plans import formatted_plan
from lsdm_motogp_data_integration_spark.sources import read_table


def test_distributed_key_equals_global_window(spark, sf_dir):
    for table, order_by in [
        ("customer", ["c_custkey"]),
        ("lineitem", ["l_orderkey", "l_linenumber"]),
    ]:
        df = read_table(spark, sf_dir, table).select(*order_by)
        a = add_surrogate_key(df, "sk", order_by)
        for n in (1, 4, 7, 16):
            b = add_surrogate_key_distributed(df, "sk", order_by, num_partitions=n)
            assert a.exceptAll(b).count() == 0, (table, n)
            assert b.exceptAll(a).count() == 0, (table, n)


def test_distributed_key_eager_jobs(spark, sf_dir):
    """Range sampling, the range shuffle, the cache build, the count's
    aggregate and result, the checkpoint: no sort or window shuffle on
    top of them."""
    sc = spark.sparkContext
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    group = "test_keys/add_surrogate_key_distributed"
    sc.setJobGroup(group, group)
    try:
        add_surrogate_key_distributed(c, "sk", ["c_custkey"], num_partitions=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6


def test_keys_dense_from_one(spark):
    df = spark.createDataFrame([(x,) for x in (30, 10, 20)], ["v"])
    rows = add_surrogate_key(df, "id", ["v"]).orderBy("id").collect()
    assert [(r["v"], r["id"]) for r in rows] == [(10, 1), (20, 2), (30, 3)]


def test_fuzzy_duplicate_probes_each_match(spark):
    probe = spark.createDataFrame(
        [(1, "mugelo"), (2, "mugelo"), (3, "cataluna")], ["pid", "name"]
    )
    lookup = spark.createDataFrame(
        [("Mugello",), ("Catalunya",), ("Assen",)], ["circuit"]
    )
    out = similarity_join(probe, lookup, "name", "circuit", how="inner")
    rows = {r["pid"]: r["circuit"] for r in out.collect()}
    assert rows == {1: "Mugello", 2: "Mugello", 3: "Catalunya"}


def test_fuzzy_threshold_left_keeps_unmatched(spark):
    probe = spark.createDataFrame([(1, "zzzzzz")], ["pid", "name"])
    lookup = spark.createDataFrame([("Mugello",)], ["circuit"])
    out = similarity_join(
        probe, lookup, "name", "circuit", threshold=0.9, how="left"
    ).collect()
    assert len(out) == 1
    assert out[0]["circuit"] is None
    inner = similarity_join(
        probe, lookup, "name", "circuit", threshold=0.9, how="inner"
    ).count()
    assert inner == 0


def test_fuzzy_tiebreak_deterministic(spark):
    # two candidates with identical similarity to the probe: tie breaks
    # on the smaller lookup key
    probe = spark.createDataFrame([(1, "ab")], ["pid", "name"])
    lookup = spark.createDataFrame([("abx",), ("aby",)], ["cand"])
    for _ in range(3):
        out = similarity_join(probe, lookup, "name", "cand", how="inner").collect()
        assert out[0]["cand"] == "abx"


def _best_match(probe: str, keys: list[str]) -> str:
    """Reference best match: highest Jaro-Winkler on trimmed, lowered
    keys, smallest key on ties."""
    p = probe.strip().lower()
    return min(
        keys, key=lambda k: (-jaro_winkler_similarity(p, k.strip().lower()), k)
    )


def test_fuzzy_lsh_strategy_matches_broadcast(spark, monkeypatch):
    """The LSH big-lookup path must find the same best matches as the
    exact broadcast path when probes are near their targets (typo'd
    circuit names share most char 3-grams)."""
    names = [
        "Mugello", "Catalunya", "Assen", "Silverstone", "Phillip Island",
        "Sachsenring", "Le Mans", "Jerez", "Misano", "Aragon",
    ]
    lookup = spark.createDataFrame([(n,) for n in names], ["circuit"])
    probe = spark.createDataFrame(
        [(i, n.lower()[:-1]) for i, n in enumerate(names)], ["pid", "name"]
    )

    def matches() -> dict:
        out = similarity_join(probe, lookup, "name", "circuit", how="inner")
        return {r["pid"]: r["circuit"] for r in out.collect()}

    exact = matches()
    monkeypatch.setattr(fuzzy, "AUTO_EXHAUSTIVE_MAX", 0)
    assert matches() == exact == dict(enumerate(names))


def test_fuzzy_lsh_left_keeps_unmatched(spark, monkeypatch):
    monkeypatch.setattr(fuzzy, "AUTO_EXHAUSTIVE_MAX", 0)
    probe = spark.createDataFrame([(1, "zzzzqqqq")], ["pid", "name"])
    lookup = spark.createDataFrame([("Mugello",)], ["circuit"])
    out = similarity_join(
        probe, lookup, "name", "circuit", threshold=0.9, how="left"
    ).collect()
    assert len(out) == 1 and out[0]["circuit"] is None


def test_fuzzy_lsh_keeps_leading_typo_match(spark, monkeypatch):
    """The LSH path keeps the best match for a first-char-corrupted
    probe ('iamaha' and 'yamaha' share most 3-grams), where
    first-character blocking would lose it."""
    probe = spark.createDataFrame([(1, "iamaha")], ["pid", "name"])
    lookup = spark.createDataFrame(
        [("yamaha",), ("ducati",), ("honda",)], ["cand"]
    )

    def matched() -> list:
        out = similarity_join(
            probe, lookup, "name", "cand", how="inner", threshold=0.7
        )
        return [r["cand"] for r in out.collect()]

    assert matched() == ["yamaha"]
    monkeypatch.setattr(fuzzy, "AUTO_EXHAUSTIVE_MAX", 0)
    assert matched() == ["yamaha"]


def test_fuzzy_auto_blocker_switches_on_lookup_size(spark):
    """Up to AUTO_EXHAUSTIVE_MAX lookup rows every pair is scored
    against a broadcast lookup; one row more switches to LSH
    candidates. Both sides of the boundary must return the exhaustive
    best match, computed here from the pure-Python reference."""
    probes = {1: "name_77x", 2: "name_123", 3: " NAME_999 "}
    probe = spark.createDataFrame(list(probes.items()), ["pid", "name"])
    for n, exhaustive in (
        (fuzzy.AUTO_EXHAUSTIVE_MAX, True),
        (fuzzy.AUTO_EXHAUSTIVE_MAX + 1, False),
    ):
        keys = [f"name_{i}" for i in range(n)]
        lookup = spark.createDataFrame([(k,) for k in keys], ["cand"])
        out = similarity_join(probe, lookup, "name", "cand", how="inner")
        plan = formatted_plan(out)
        assert ("BroadcastNestedLoopJoin" in plan) == exhaustive, n
        got = {r["pid"]: r["cand"] for r in out.collect()}
        assert got == {
            pid: _best_match(name, keys) for pid, name in probes.items()
        }, n


def test_fuzzy_duplicate_lookup_keys_deterministic(spark):
    """Duplicate lookup KEY values with different payloads: the carried
    payload must not depend on partition layout (full-row hash
    tie-break)."""
    probe = spark.createDataFrame([(1, "asen")], ["pid", "probe_name"])
    lookup = spark.createDataFrame(
        [("assen", 10), ("assen", 20), ("assen", 30)],
        ["n_name", "payload"],
    )
    a = similarity_join(
        probe, lookup, "probe_name", "n_name"
    ).select("payload").collect()
    b = similarity_join(
        probe.repartition(7), lookup.repartition(5), "probe_name", "n_name"
    ).select("payload").collect()
    assert a == b and len(a) == 1


def test_fuzzy_rejects_score_col_collision(spark):
    import pytest

    probe = spark.createDataFrame(
        [(1, "asen", 0.5)], ["pid", "probe_name", "similarity"]
    )
    lookup = spark.createDataFrame([("assen",)], ["n_name"])
    with pytest.raises(ValueError):
        similarity_join(probe, lookup, "probe_name", "n_name")
    # a custom score_col clears the clash
    out = similarity_join(
        probe, lookup, "probe_name", "n_name", score_col="jw_score"
    ).collect()
    assert len(out) == 1 and out[0]["jw_score"] > 0.8


def test_fuzzy_block_grams_pinned(spark):
    """Pin the fuzzy-blocking normalization (r4 regression guard): a
    k=8 near-dup ``char_shingle_hashes`` once shadowed the k=3 blocking
    helper and silently changed fuzzy candidate recall for keys with
    whitespace runs. The blocker must preserve interior whitespace
    exactly (trim+lower ONLY); the near-dup basis squeezes it. Any
    future normalization change to either helper must flip one of
    these assertions deliberately."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        char_shingle_hashes,
        fuzzy_block_grams,
    )

    df = spark.createDataFrame(
        [("ab\t\tcd",), ("ab cd",), ("  AB CD ",)], ["s"]
    )

    def gram_sets(expr):
        rows = df.select(
            "s", F.array_sort(expr).alias("g")
        ).collect()
        return {r["s"]: tuple(r["g"]) for r in rows}

    fuzzy = gram_sets(fuzzy_block_grams(F.col("s"), 3))
    neardup = gram_sets(char_shingle_hashes(F.col("s"), 3))

    # trim+lower applies on the fuzzy path ...
    assert fuzzy["ab cd"] == fuzzy["  AB CD "]
    # ... but interior whitespace runs are PRESERVED: a tab run and a
    # single space are different blocking keys for the fuzzy path
    assert fuzzy["ab\t\tcd"] != fuzzy["ab cd"]
    # while the near-dup basis squeezes whitespace (documents), so the
    # same two strings collide there — the deliberate divergence
    assert neardup["ab\t\tcd"] == neardup["ab cd"]
