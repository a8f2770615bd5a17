#!/usr/bin/env python
"""Regenerate tests/plan_shuffle_budget.json — the per-query shuffle-
exchange budget the plan tests hold the declared surface to.

Run after a DELIBERATE plan change (new query, new join strategy), review
the diff (an increase is a scale regression unless argued otherwise in
the commit message), and commit the file together with the change:

    python scripts/gen_shuffle_budget.py            # full regen
    python scripts/gen_shuffle_budget.py minhash    # only matching names
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BUDGET_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "plan_shuffle_budget.json",
)
#: Must match tests/conftest.py — budgets are partitioning-config-specific.
SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    needle = sys.argv[1] if len(sys.argv) > 1 else ""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")

    from bigdata_hits_spark import queries as q
    from bigdata_hits_spark.operators import ranking
    from bigdata_hits_spark.plans.audit import count_shuffles
    from bigdata_hits_spark.session import get_spark

    # Record the Spark-tier plans, as tests/test_plans.py holds them: at
    # the default cap the graph rows run on the driver and plan nothing.
    ranking.LOCAL_MAX_EDGES = -1
    spark = get_spark("gen-shuffle-budget")
    spark.sparkContext.setLogLevel("ERROR")

    budget: dict[str, int] = {}
    if os.path.exists(BUDGET_PATH):
        with open(BUDGET_PATH) as fh:
            budget = json.load(fh)

    for name, fn in q.queries().items():
        if needle and needle not in name:
            continue
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        n = count_shuffles(plan)
        prev = budget.get(name)
        tag = "" if prev is None else (" (unchanged)" if prev == n else f" (was {prev})")
        print(f"{name}: {n}{tag}")
        budget[name] = n

    # Drop entries for queries that no longer exist (full regen only).
    if not needle:
        budget = {k: v for k, v in budget.items() if k in q.queries()}

    with open(BUDGET_PATH, "w") as fh:
        json.dump(dict(sorted(budget.items())), fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {BUDGET_PATH} ({len(budget)} queries)")


if __name__ == "__main__":
    main()
