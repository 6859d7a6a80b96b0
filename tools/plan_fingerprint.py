"""Plan-fingerprint pins for the headline queries (judge r3 ask #1).

Motivation: in round 3 the driver's bench showed q01 +19% / q05 +36%
drift with NO code change to either query — shared-host noise by all
evidence, but nothing MECHANICAL separated "the plan changed" from
"the host was busy". This tool hashes the NORMALIZED optimized logical
plan of every headline query at sf0.001; `tests/test_plans.py::
test_plan_fingerprints_pinned` compares against the committed pins in
`tests/plan_fingerprints.json`. Now:

- bench drift + unchanged fingerprint  => host noise / data growth,
  not a plan regression;
- changed fingerprint                  => the plan REALLY changed —
  either intentional (regenerate pins in the same commit, reviewable
  in the diff) or an accidental regression the test catches.

Normalization strips run-varying tokens (expression IDs `#123`, object
addresses, plan ids) so the hash is stable across sessions while still
changing whenever operators, join strategies, pushed filters, or
column pruning change.

Usage:
    python tools/plan_fingerprint.py            # compare vs pins
    python tools/plan_fingerprint.py --update   # rewrite pins
    python tools/plan_fingerprint.py --show q01_pricing_summary
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PINS_PATH = os.path.join(REPO, "tests", "plan_fingerprints.json")
SF_DIR = "/root/testdata/sf0.001"

_NORMALIZE: list[tuple[re.Pattern[str], str]] = [
    # expression IDs: exprId#123 / name#123L — fresh per session
    (re.compile(r"#\d+"), "#"),
    # JVM object identity hashes
    (re.compile(r"@[0-9a-fA-F]{4,}"), "@"),
    (re.compile(r"0x[0-9a-fA-F]+"), "0x"),
    # AQE / codegen bookkeeping ids
    (re.compile(r"plan_id=\d+"), "plan_id="),
    # python accumulator/worker ids occasionally embedded in UDF names
    (re.compile(r"<lambda>[^,)\]]*"), "<lambda>"),
    # higher-order-function lambda variable names draw from a SESSION-
    # GLOBAL counter (`lambda x_1` in a fresh session, `lambda x_76`
    # after other queries built) — the name is bookkeeping, not plan
    (re.compile(r"\b(lambda [a-z]+)_\d+"), r"\1_"),
    # explicit repartition widths are sized from the session's
    # parallelism (bench=32 threads, tests=8 shuffle partitions) — the
    # OPERATOR is the pin, the width is config
    (re.compile(r"(Repartition(?:ByExpression \[[^\]]*\])?,? )\d+"), r"\1N"),
    # cached relations embed their physical plan; partition widths
    # there are session config too
    (re.compile(r"(RoundRobinPartitioning|SinglePartition)\(\d+\)"), r"\1(N)"),
    (re.compile(r"(hashpartitioning\([^()]*(?:\([^()]*\)[^()]*)*), \d+\)"), r"\1, N)"),
]


def normalize(plan: str) -> str:
    for pat, rep in _NORMALIZE:
        plan = pat.sub(rep, plan)
    return plan


def fingerprint(df) -> tuple[str, str]:
    """(16-hex-char sha256, normalized plan text) of the OPTIMIZED
    LOGICAL plan — stable vs session/exprId churn, sensitive to real
    operator/pushdown/pruning changes. Logical (not physical) so AQE's
    runtime re-planning and partition counts can't flap the pin.

    The session cache is cleared FIRST: several suites persist shared
    relations while building, and the optimizer substitutes
    InMemoryRelation for any lineage that is still cached — so the
    same query fingerprints differently depending on what was built
    earlier in the session (observed: 7 suites flapping when the pin
    test ran after other plan tests). Clearing pins the CACHE-FREE
    plan, the one identity that is reproducible in any session. The
    plan is re-analyzed from the frame's logical plan, because the
    frame's own query execution may have been planned already, with
    cached relations substituted in."""
    spark = df.sparkSession
    spark.catalog.clearCache()
    fresh = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.queryExecution().logical()
    )
    raw = fresh.queryExecution().optimizedPlan().toString()
    norm = normalize(raw)
    return hashlib.sha256(norm.encode()).hexdigest()[:16], norm


def compute_all(spark) -> dict[str, str]:
    from lsdm_motogp_data_integration_spark.queries import registry

    return {
        q.name: fingerprint(q.fn(spark, SF_DIR))[0]
        for q in registry.headline()
    }


def main() -> int:
    from lsdm_motogp_data_integration_spark.session import get_spark

    spark = get_spark("plan_fingerprint")
    if "--show" in sys.argv:
        import __spark_entry__ as entry_mod

        name = sys.argv[sys.argv.index("--show") + 1]
        h, norm = fingerprint(entry_mod.queries()[name](spark, SF_DIR))
        print(norm)
        print(f"\nfingerprint: {h}")
        return 0
    current = compute_all(spark)
    if "--update" in sys.argv:
        with open(PINS_PATH, "w") as f:
            json.dump(current, f, indent=2, sort_keys=True)
            f.write("\n")
        print(f"wrote {len(current)} pins to {PINS_PATH}")
        return 0
    with open(PINS_PATH) as f:
        pinned = json.load(f)
    bad = 0
    for name, h in current.items():
        status = "OK" if pinned.get(name) == h else "CHANGED"
        if status != "OK":
            bad += 1
        print(f"{name}: {status} ({h} vs pinned {pinned.get(name)})")
    print("ALL OK" if not bad else f"{bad} CHANGED")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
