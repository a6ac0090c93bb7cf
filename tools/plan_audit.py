#!/usr/bin/env python
"""Plan-audit sweep over EVERY registered query (r14 lesson, made a
tool for the r15 optimization round): build each query's DataFrame at a
small scale factor with AQE off and grep the formatted physical plan for
scale-killers and Python-boundary surprises.

Flags per query:
  - CartesianProduct (accidental all-pairs; BroadcastNestedLoopJoin is
    reported informationally - the repo's deliberate 1-row broadcast
    cross joins plan as BNLJ with a bounded build side)
  - BatchEvalPython (row-at-a-time Python UDF - none expected outside
    the declared mapInPandas decode surface)
  - ArrowEvalPython / MapInPandas / MapInArrow counts (the Python budget
    - expected only on the multimodal decode surface)
  - PythonRDD in the final plan's RDD lineage (toRdd().toDebugString(),
    and each broadcast build side's, which runs as its own job): a scan
    of Python-side data, e.g. createDataFrame(<list>), which PySpark runs
    through parallelize and which no physical-plan node names ("Scan
    ExistingRDD" also covers checkpoints) - it forks Python workers in
    every job that reads it.  Driver-built tables should be
    functions.local_frame's Arrow local relations instead.  Not seen:
    such a scan behind a checkpoint's broadcast, or in a job the builder
    itself runs (tests/conftest.py python_stages_of counts those).
  - Exchange count (shuffle budget per operator)

Prints one line per query and a summary; exit 1 if a NEW Cartesian or
BatchEvalPython shows up outside the allowlist below.  The summary lists
the ids with a Python-backed scan outside the pandas/Arrow UDF surface
(PythonRDD in the lineage and no Python UDF node in the plan):
informational, expected empty.

Building each RDD runs the plan's broadcasts, so the sweep runs jobs.

Usage: python tools/plan_audit.py [sf_dir]   (default sf0.001)
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pei_nwdaf_data_ingestion_spark import registry
from pei_nwdaf_data_ingestion_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

# Cartesian products that are DELIBERATE (tiny bounded frames - e.g. a
# 1-row broadcast total crossed onto a report) get allowlisted here only
# after manual review of the plan.
CARTESIAN_ALLOW: set[str] = set()
BATCH_EVAL_ALLOW: set[str] = set()


def _lineage(qe) -> str:
    """The RDD debug strings of the final plan and of every broadcast
    build side in it (a broadcast is collected by its own job, so the
    final RDD's lineage does not show it)."""
    out = [qe.toRdd().toDebugString()]
    todo = [qe.executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "BroadcastExchange":
            out.append(node.child().execute().toDebugString())
        todo.extend(node.children().apply(i) for i in range(node.children().size()))
    return "\n".join(out)


def main() -> None:
    registry.load_all()
    spark = get_spark(app_name="plan-audit", shuffle_partitions=4)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    bad: list[str] = []
    rows: list[tuple[str, int, int, int, int, int, int, bool]] = []
    for name, fn in sorted(registry.QUERIES.items()):
        try:
            df = fn(spark, SF)
            qe = df._jdf.queryExecution()
            plan = qe.explainString(mode)
            py_rdd = "PythonRDD" in _lineage(qe)
        except Exception as exc:  # noqa: BLE001 - audit must sweep on
            print(f"{name}: BUILD ERROR {type(exc).__name__}: "
                  f"{str(exc).splitlines()[0][:120]}")
            bad.append(name)
            continue
        # plain substring counts: each physical node appears once in the
        # numbered tree and once as a detail header, so //2 = node count
        # (join nodes print their args between name and id, so a
        # name-paren pattern would never match)
        cart = plan.count("CartesianProduct") // 2
        bnlj = plan.count("BroadcastNestedLoopJoin") // 2
        bep = plan.count("BatchEvalPython") // 2
        aep = plan.count("ArrowEvalPython") // 2
        mip = (plan.count("MapInPandas") + plan.count("MapInArrow")) // 2
        # shuffle exchanges only (ADVICE r15 item 4): "Exchange (" also
        # substring-matches BroadcastExchange/ReusedExchange detail
        # headers, which conflated shuffle, broadcast and reused nodes in
        # the informational budget column
        exch = (
            plan.count("Exchange (")
            - plan.count("BroadcastExchange (")
            - plan.count("ReusedExchange (")
        )
        udf = any(k in plan for k in ("EvalPython", "InPandas", "InArrow", "PythonUDTF"))
        rows.append((name, exch, cart, bep, aep, mip, bnlj, py_rdd and not udf))
        flags = []
        if cart and name not in CARTESIAN_ALLOW:
            flags.append(f"CARTESIAN x{cart}")
        if bep and name not in BATCH_EVAL_ALLOW:
            flags.append(f"BatchEvalPython x{bep}")
        if flags:
            bad.append(name)
        print(f"{name}: {exch} Exchange, ArrowEvalPython x{aep}, "
              f"MapInPandas/MapInArrow x{mip}, PythonRDD "
              f"{'yes' if py_rdd else 'no'}{''.join(' ' + f for f in flags)}")
    print("-" * 60)
    print(f"swept {len(rows)} query plans at {SF}")
    print("top shuffle budgets:")
    for name, exch, *_ in sorted(rows, key=lambda r: -r[1])[:12]:
        print(f"  {name}: {exch} Exchange")
    py = [n for n, e, c, b, a, m, j, r in rows if m]
    bn = [n for n, e, c, b, a, m, j, r in rows if j]
    hidden = [n for n, e, c, b, a, m, j, r in rows if r]
    print(f"queries with BroadcastNestedLoopJoin (1-row-broadcast cross "
          f"joins by construction - informational): {len(bn)}")
    print(f"queries with Python map stages: {len(py)}")
    print(f"queries with a Python-backed scan outside the UDF surface: "
          f"{len(hidden)} {hidden}")
    if bad:
        print(f"FLAGGED: {bad}")
        sys.exit(1)
    print("no Cartesian/BatchEvalPython flags")


if __name__ == "__main__":
    main()
