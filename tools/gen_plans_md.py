#!/usr/bin/env python
"""Generate PLANS.md: formatted physical plans + scale-property summary
for the bench headline queries. Regenerate after plan-affecting changes:

    python tools/gen_plans_md.py
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

SF_DIR = "/root/testdata/sf0.01"

PROPS = [
    ("PushedFilters", "filter pushdown reaches the scan"),
    ("BroadcastHashJoin", "dimension sides broadcast"),
    ("TakeOrderedAndProject", "top-k without a global sort"),
    ("ArrowEvalPython", "Arrow-batched Python (only where semantics need it)"),
    ("raise_error", "bad input fails the query (raise_error fence)"),
]


def main() -> None:
    from bench import HEADLINE
    from parallel_monte_carlo_simulations_spark.registry import load_all_queries
    from parallel_monte_carlo_simulations_spark.session import get_spark

    spark = get_spark(app_name="pmcs-plans", master="local[8]")
    specs = load_all_queries()
    out = [
        "# PLANS — physical plans of the bench headline queries (generated)",
        "",
        "Regenerate with `python tools/gen_plans_md.py` (sf0.01 inputs).",
        "What to look for, per query: filters under `PushedFilters`, dims",
        "under `BroadcastHashJoin`, shuffles only where keys demand them,",
        "Python only behind `ArrowEvalPython`/`MapInPandas` nodes.",
        "",
    ]
    for name in HEADLINE:
        df = specs[name].fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # keep the operator tree; drop the verbose per-node detail blocks
        tree = plan.split("\n\n")[0]
        n_exchange = len(re.findall(r"Exchange", tree))
        flags = [note for marker, note in PROPS if marker in plan]
        out.append(f"## {name}")
        out.append("")
        out.append(f"- shuffles (Exchange nodes): {n_exchange}")
        for fl in flags:
            out.append(f"- {fl}")
        out.append("")
        out.append("```")
        out.append(tree.strip())
        out.append("```")
        out.append("")
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md: {len(HEADLINE)} plans")


if __name__ == "__main__":
    main()
