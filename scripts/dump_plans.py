"""Regenerate PLANS.md: a physical-plan audit row for every graded query.

For each `queries()` entry (built at sf0.01), counts the plan nodes that
decide 100x survival via operators.util.plan_summary and flags the two
hard red lines (CartesianProduct, BatchEvalPython — both must be zero,
also enforced by tests/test_plans.py).

Run: PYTHONPATH=/root/repo python scripts/dump_plans.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

from bigdata_etl_customer360_spark.operators.util import plan_summary
from bigdata_etl_customer360_spark.session import get_session

SF = "/root/testdata/sf0.01"


def main():
    spark = get_session(app_name="dump-plans", master="local[8]")
    rows = []
    for name, q in entrymod.queries().items():
        try:
            s = plan_summary(q(spark, SF))
            rows.append((name, s))
        except Exception as ex:  # pragma: no cover - informational artifact
            rows.append((name, {"error": str(ex)[:80]}))
    with open("PLANS.md", "w") as f:
        f.write(
            "# Physical-plan audit (auto-generated by scripts/dump_plans.py)\n\n"
            "One row per graded query at sf0.01. `xchg` = Exchange count "
            "(shuffles), joins are by strategy (`bhj`/`smj`/`shj`/`bnlj`), "
            " `py` = Python-worker stages (pandas/Arrow UDF evals and the "
            "mapInPandas/applyInPandas map and group nodes; row-wise "
            "BatchEvalPython is zero everywhere, enforced "
            "by tests/test_plans.py::test_no_rowwise_python_eval_anywhere; "
            "CartesianProduct likewise).\n\n"
            "| query | xchg | scans | bhj | smj | shj | bnlj | py | win | agg |\n"
            "|---|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, s in rows:
            if "error" in s:
                f.write(f"| {name} | (plan error: {s['error']}) |||||||||||\n")
                continue
            f.write(
                f"| {name} | {s['exchanges']} | {s['scans']} | "
                f"{s['broadcast_hash_joins']} | {s['sort_merge_joins']} | "
                f"{s['shuffled_hash_joins']} | {s['nested_loop_joins']} | "
                f"{s['python_evals']} | "
                f"{s['windows']} | {s['aggregates']} |\n"
            )
    print(f"PLANS.md written: {len(rows)} queries")
    spark.stop()


if __name__ == "__main__":
    main()
