"""Dump .explain("formatted") for bench queries into plans/<tag>/.

Usage: python tools/explain_all.py <tag> [suffix] [query ...]
  tag     e.g. r09 -> writes plans/r09/<query>_<suffix>.txt
  suffix  "before" (default) or "after"

Captures the ANALYZED physical plan (pre-execution, AQE initial) — the
artifact the judge reads to verify plan-shape claims (Exchange count,
join strategy, PushedFilters, Python-eval nodes). Each written file is
echoed with its count of Python-eval nodes (ArrowEvalPython,
BatchEvalPython, MapInPandas, MapInArrow, Scan ExistingRDD).
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
_PY_EVAL = re.compile(r"^\(\d+\) (?:Scan )?(?:ArrowEvalPython|MapInArrow|"
                      r"BatchEvalPython|MapInPandas|ExistingRDD)\b", re.M)


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
        try:
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:  # pragma: no cover - capture tool
            plan = f"ERROR building/explaining {name}: {e}"
        with io.open(os.path.join(outdir, f"{name}_{suffix}.txt"),
                     "w", encoding="utf-8") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars, "
              f"{len(_PY_EVAL.findall(plan))} python-eval nodes)")


if __name__ == "__main__":
    main()
