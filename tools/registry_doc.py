"""Generate REGISTRY.md: every driver-window query, its suite scopes,
and its docstring headline. Usage: python tools/registry_doc.py > REGISTRY.md"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry  # noqa: E402
from bench import _scope_values  # noqa: E402

q = entry.queries()
tags = getattr(entry, "_SUITE_TAG_COLS", {})

print(f"# REGISTRY — the {len(q)} driver-window queries\n")
print("Every entry is oracle-backed (DuckDB twin in `oracle_sql()`); "
      "suites pack several operators behind one tagged driver row. Scopes are enumerated from the "
      "oracle SQL.\n")
print("| # | query | tag col | scopes | headline |")
print("|---|---|---|---|---|")
for i, (name, fn) in enumerate(q.items(), 1):
    doc = (fn.__doc__ or "").strip().splitlines()
    head = doc[0].rstrip() if doc else ""
    head = head.replace("|", "\\|")
    tag = tags.get(name, "")
    scopes = ", ".join(_scope_values(name, tag)) if tag else ""
    print(f"| {i} | `{name}` | {tag} | {scopes} | {head} |")
