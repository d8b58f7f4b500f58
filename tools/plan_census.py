#!/usr/bin/env python
"""Registry-wide physical-plan census at a given SF; ranks by op count."""
import re
import sys
import traceback

sys.path.insert(0, __import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__))))

sf_dir = sys.argv[1]

from oracle_vector_search_spark.plans.inspect import python_operators  # noqa: E402
from oracle_vector_search_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entry  # noqa: E402

spark = get_spark("census_all_r16")
qs = entry.queries()

rows = []
for name, fn in qs.items():
    try:
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    except Exception:
        print(f"{name}: ERROR {traceback.format_exc(limit=1).splitlines()[-1]}")
        continue
    head = plan.split("\n\n")[0]
    ops = len(re.findall(r"^\(\d+\) ", plan, re.M))
    ex = len(re.findall(r"\bExchange\b", head))
    smj = head.count("SortMergeJoin")
    bhj = head.count("BroadcastHashJoin")
    scans = len(re.findall(r"Scan parquet|Scan ExistingRDD", head))
    py = len(python_operators(head))
    rows.append((ops, ex, smj, bhj, scans, py, name))

rows.sort(reverse=True)
print(f"{'ops':>4} {'ex':>3} {'smj':>3} {'bhj':>3} {'scan':>4} {'py':>2}  name")
for ops, ex, smj, bhj, scans, py, name in rows[:40]:
    print(f"{ops:4d} {ex:3d} {smj:3d} {bhj:3d} {scans:4d} {py:2d}  {name}")
print("...")
print("total censused:", len(rows))
