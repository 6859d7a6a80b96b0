"""Golden-output regression pins for the MotoGP pipeline (SURVEY §5
step 2): md5 fingerprints of every output table, computed over the
column-name-sorted, row-sorted CSV rendition (floats at 6 decimals).

The engine is deterministic end-to-end (order-defined surrogate keys,
tie-broken ranks and fuzzy matches, seeded hashes), so these are exact.
An intentional semantic change must update the constants — that review
moment is the point of the test.
"""

from __future__ import annotations

import hashlib

import pytest

from lsdm_motogp_data_integration_spark.pipelines.motogp import runner

GOLDEN = {
    "circuits": "d98cea84918dfc708de9fc4741ed03a9",
    # re-pinned 2026-08-13 (twice): (1) explicit survivor rules +
    # pinned fuzzy probe ids replaced partition-order-dependent picks;
    # (2) the synthetic fact's hash moved from xxhash64 to the portable
    # md5-based hash so the DuckDB oracle (q44/q45) can replay it
    "participation": "e6cd064f8d700984a8fd10e0052406b1",
    # regenerated after the lat/long parity fix: Info Race carries the
    # race JSON's own coordinates (motogp.ktr:6444), not the
    # fuzzy-matched circuit dim's — 313/313 rows now have coordinates
    "race_info": "fc12c9bd137ccaca5555350753ede785",
    "races": "7b06dff094036911454e6140ef1ae250",
    "rider_table": "913a5b197360bc283365861ed35efa8f",
    "riders_enriched": "39c124d6dd02f381518d2698993abbbd",
    "team_standings": "eef918f74eb126cd483192c573fb1c40",
    "teams": "cf470eb2a0b8bb27a582b7cc060951f3",
}


def fingerprint(df) -> str:
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns), na_position="last").reset_index(
        drop=True
    )
    payload = pdf.to_csv(index=False, float_format="%.6f").encode()
    return hashlib.md5(payload).hexdigest()


@pytest.fixture(scope="module")
def tables(spark):
    return runner.build_all(spark, base_dir="/root/reference")


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_golden_fingerprint(tables, name):
    assert fingerprint(tables[name]) == GOLDEN[name], (
        f"{name} output changed — if intentional, update GOLDEN"
    )


def test_goldens_stable_under_different_partitioning():
    """The determinism claim, stress-tested: a SEPARATE session with a
    different core count and shuffle-partition count (local[5], 7
    partitions — nothing divides evenly) must reproduce every golden
    fingerprint bit-for-bit. Runs in a subprocess because the session
    fixture pins this process's SparkSession conf."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"""
import sys
sys.path.insert(0, {root!r})
from tests.test_golden_outputs import fingerprint, GOLDEN
from lsdm_motogp_data_integration_spark.pipelines.motogp import runner
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[5]")
         .config("spark.sql.shuffle.partitions", "7")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.driver.memory", "8g")
         .getOrCreate())
tables = runner.build_all(spark, base_dir="/root/reference")
bad = [n for n in sorted(GOLDEN) if fingerprint(tables[n]) != GOLDEN[n]]
print("DIFFERS:" + ",".join(bad) if bad else "ALL-STABLE")
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=560,
        cwd=root,
    )
    assert "ALL-STABLE" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]
