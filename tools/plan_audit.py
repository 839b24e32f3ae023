"""Plan audit: run every ``queries()`` entry at a small sf and count
Python-stage operators (MapInPandas / MapInArrow / FlatMapGroupsInPandas /
ArrowEvalPython / FlatMapCoGroups*) and ReusedExchange in the EXECUTED
final plan. A Python kernel appearing more times than its op intends is
the multi-consumer re-execution hazard that cost span_dup_pairs 4x its
dominant cost (r6 verdict #1) — this sweep is the generic net for that
defect class.

Heuristic output, not a gate: some ops legitimately run several kernels
(e.g. remove_duplicate_spans = position kernel + cut kernel). The
FLAGGED list is for eyeballs; pin intended counts in
tests/test_plan_budgets.py when an op's shape is settled.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PY_OPS = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
          "ArrowEvalPython", "FlatMapCoGroupsInPandas",
          "FlatMapCoGroupsInArrow")


def final_plan(df) -> str:
    return (df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])


def main():
    from bioframe_spark.session import get_spark
    import __spark_entry__ as em

    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else \
        "/root/testdata/sf0.001"
    wanted = [a for a in args if not os.path.isdir(a)]
    spark = get_spark("plan-audit", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    qs = em.queries()
    names = wanted or [n for n in qs if not n.startswith("stream_")]
    rows = []
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            plan = final_plan(df)
            py = sum(plan.count(op) for op in PY_OPS)
            reuse = plan.count("ReusedExchange")
            exch = len(re.findall(
                r"\bExchange (hash|range|RoundRobin|Single)", plan))
            rows.append((name, py, reuse, exch, None))
        except Exception as e:  # noqa: BLE001 - audit must not die mid-sweep
            rows.append((name, -1, -1, -1, str(e).splitlines()[0][:80]))
        r = rows[-1]
        print(f"{r[0]:24s} py_stages={r[1]:2d} reused_exch={r[2]} "
              f"shuffles={r[3]}" + (f"  ERR {r[4]}" if r[4] else ""),
              flush=True)

    print("\n-- py_stages >= 3 (eyeball for unintended kernel re-runs) --")
    for r in sorted(rows, key=lambda r: -r[1]):
        if r[1] >= 3:
            print(f"{r[0]:24s} py_stages={r[1]} reused_exch={r[2]}")
    spark.stop()


if __name__ == "__main__":
    main()
