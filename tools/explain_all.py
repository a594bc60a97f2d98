"""Dump .explain("formatted") for bench queries into plans/<tag>/.

Usage: python tools/explain_all.py <tag> [suffix] [query ...]
  tag     e.g. r09 -> writes plans/r09/<query>_<suffix>.txt
  suffix  "before" (default) or "after"

Captures the ANALYZED physical plan (pre-execution, AQE initial) — the
artifact the judge reads to verify plan-shape claims (Exchange count,
join strategy, PushedFilters, Python-eval nodes). Each written file is
echoed with its count of Python-eval nodes (ArrowEvalPython,
BatchEvalPython, MapInPandas, MapInArrow) plus its PythonRDD leaves
(``python_rdd_leaves``); a ``Scan ExistingRDD`` over a
``localCheckpoint`` runs no Python and is not counted.
"""

from __future__ import annotations

import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# nodes that run a Python worker over their rows, matched on the
# formatted plan's numbered detail headers (one per node)
_PY_EVAL = re.compile(r"^\(\d+\) (?:ArrowEvalPython|MapInArrow|"
                      r"BatchEvalPython|MapInPandas)\b", re.M)


def python_rdd_leaves(df) -> list:
    """The leaves of ``df``'s physical plan that scan a PythonRDD: rows
    built in Python (a list handed to ``createDataFrame``, or an RDD of
    Python objects) that run Python workers on every collect.  A
    ``localCheckpoint`` leaf prints as the same ``Scan ExistingRDD``, so
    the RDD lineage tells them apart.  Reading it launches no job."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if (leaf.getClass().getSimpleName() == "RDDScanExec"
                and "PythonRDD" in leaf.rdd().toDebugString()):
            out.append(leaf.simpleString(25))
    return out


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r09"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])

    import __spark_entry__ as entrymod
    from iceberg_go_spark.session import get_spark
    import bench as benchmod

    spark = get_spark("explain-all")
    entrymod._fixtures(spark, SF_DIR)
    qs = entrymod.queries()

    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(outdir, exist_ok=True)

    names = benchmod.HEADLINE + benchmod.EXTRA
    for name in names:
        if only and name not in only:
            continue
        n_py = 0
        try:
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            n_py = len(python_rdd_leaves(df))
        except Exception as e:  # pragma: no cover - capture tool
            plan = f"ERROR building/explaining {name}: {e}"
        with io.open(os.path.join(outdir, f"{name}_{suffix}.txt"),
                     "w", encoding="utf-8") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars, "
              f"{len(_PY_EVAL.findall(plan)) + n_py} python-eval nodes)")


if __name__ == "__main__":
    main()
