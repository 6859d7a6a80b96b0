"""Capture .explain("formatted") output for headline queries into
<dir>/<query>_<suffix>.txt (optimization-round evidence).

Usage: python tools/capture_plans.py <suffix> [query ...]
  suffix: "before" / "after" (file name suffix)
  query:  optional subset; defaults to every headline query.
  $SPARK_GRAFT_PLANS_DIR overrides the output directory (default
  spark_graft_plans under the system temp dir, outside the tree:
  PLANS.md and tests/plan_fingerprints.json are the kept record).

The formatted plan is the pre-execution plan (AdaptiveSparkPlan
isFinalPlan=false) — exactly what `df.explain("formatted")` prints.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lsdm_motogp_data_integration_spark.queries import registry
from lsdm_motogp_data_integration_spark.session import get_spark


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or [q.name for q in registry.headline()]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.environ.get("SPARK_GRAFT_PLANS_DIR") or os.path.join(
        tempfile.gettempdir(), "spark_graft_plans"
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    qs = registry.registry()
    for name in names:
        df = qs[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_exchange = plan.count("Exchange")
        print(
            f"{name}: {len(plan.splitlines())} lines, "
            f"{n_exchange} Exchange mentions -> {path}"
        )
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
