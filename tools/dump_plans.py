"""Dump .explain('formatted') for registry queries into a directory.

Usage: python tools/dump_plans.py OUTDIR SUFFIX [query ...]
Defaults to the headline + data-pipeline queries (skips the two
driver-side harness queries whose DataFrame construction executes work:
shex_suite_scorecard, kg_shacl_meta). The tables are read from
$SPARK_GRAFT_SF_DIR.

Expression ids (``#123``), plan ids (``[plan_id=45]``), RDD ids
(``MapPartitionsRDD[67]``) and the numbers of lambda variables
(``lambda x_12``) are stripped: they count up through the session, so
two dumps of the same plans differ in them. Dumps of two checkouts then compare with ``diff -r``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

SKIP = {"shex_suite_scorecard", "kg_shacl_meta"}

_IDS = re.compile(r"#\d+|(, )?\[plan_id=\d+\]|(?<=RDD)\[\d+\]"
                  r"|(?<=\blambda [a-z])_\d+")


def strip_ids(plan: str) -> str:
    """``plan`` without its expression, plan, RDD and lambda-variable
    ids."""
    return _IDS.sub("", plan)


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    import __spark_entry__ as E
    from shaclex_spark.session import get_spark

    spark = get_spark("dump_plans")
    queries = E.queries()
    if not names:
        names = [n for n in queries if n not in SKIP]
    for name in names:
        try:
            df = queries[name](spark, SF_DIR)
            plan = strip_ids(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        except Exception as e:  # pragma: no cover
            plan = f"ERROR: {type(e).__name__}: {e}"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(name, "ok" if not plan.startswith("ERROR") else plan[:120])
    spark.stop()


if __name__ == "__main__":
    main()
