"""Generate REGISTRY.md: every driver-window query, its suite scopes,
and its docstring headline. Usage: python tools/registry_doc.py > REGISTRY.md"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from lsdm_motogp_data_integration_spark.queries import registry  # noqa: E402


def render() -> str:
    q = registry.registry()
    out = [
        f"# REGISTRY — the {len(q)} driver-window queries\n",
        "Every entry is oracle-backed (DuckDB twin in `oracle_sql()`); "
        "suites pack several operators behind one tagged driver row. Scopes are the "
        "values each suite declares in its `@query` registration.\n",
        "| # | query | tag col | scopes | headline |",
        "|---|---|---|---|---|",
    ]
    for i, (name, e) in enumerate(q.items(), 1):
        doc = (e.fn.__doc__ or "").strip().splitlines()
        head = doc[0].rstrip() if doc else ""
        head = head.replace("|", "\\|")
        out.append(
            f"| {i} | `{name}` | {e.tag or ''} | {', '.join(e.scopes)} | {head} |"
        )
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    sys.stdout.write(render())
