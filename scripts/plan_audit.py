"""Driver-window plan audit: the anti-pattern sweep as one artifact.

Builds every _DRIVER_WINDOW query's DataFrame at sf0.01 and inspects
its executed physical plan WITHOUT collecting results:

  - BatchEvalPython (row-at-a-time Python UDF) anywhere  -> VIOLATION
  - CartesianProduct / BroadcastNestedLoopJoin with an inner join
    and no condition                                      -> VIOLATION
  - per-plan counts of Exchange / BroadcastHashJoin / SortMergeJoin /
    ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas /
    ExistingRDD / LogicalRDD — recorded so cross-round diffs of this
    artifact surface silent plan drift (an RDD scan is a Python-local
    relation: Python worker tasks and no optimizer visibility)

Rows whose builders RUN jobs at build time (streaming sinks, store
lifecycle setups) still yield a final batch DataFrame; its plan is
what ships, so it is what's audited. Exit code 1 on any violation.

Usage: python scripts/plan_audit.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else None

NODES = ["Exchange", "BroadcastHashJoin", "SortMergeJoin",
         "BroadcastNestedLoopJoin", "CartesianProduct",
         "BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
         "MapInPandas", "WholeStageCodegen", "ExistingRDD", "LogicalRDD"]


def main() -> int:
    import __spark_entry__ as entry
    from aresdb_spark import get_spark

    spark = get_spark(app_name="plan-audit", cpus=8, shuffle_partitions=8)
    window = entry._DRIVER_WINDOW
    qs = entry.queries()
    report, violations = {}, []
    for name in window:
        try:
            df = qs[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            report[name] = {"error": f"{type(e).__name__}: {e}"[:300]}
            violations.append((name, "plan_unavailable"))
            continue
        counts = {n: plan.count(n) for n in NODES}
        row = {k: v for k, v in counts.items() if v}
        if counts["BatchEvalPython"]:
            violations.append((name, "BatchEvalPython"))
            row["VIOLATION"] = "row-at-a-time Python UDF"
        if counts["CartesianProduct"]:
            violations.append((name, "CartesianProduct"))
            row["VIOLATION"] = "cartesian product"
        report[name] = row
        print(f"{'VIOLATION ' if 'VIOLATION' in row else 'ok        '}"
              f"{name}: {row}")
    summary = {"sf_dir": SF_DIR, "queries": len(window),
               "violations": violations, "plans": report}
    if OUT:
        with open(OUT, "w") as f:
            json.dump(summary, f, indent=1)
    print(f"\n{len(window) - len(violations)}/{len(window)} plans clean"
          f" ({len(violations)} violations)")
    return 1 if violations else 0


if __name__ == "__main__":
    sys.exit(main())
