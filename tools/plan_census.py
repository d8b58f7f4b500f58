#!/usr/bin/env python
"""Registry-wide physical-plan census at a given SF: one row per query.

Usage: python tools/plan_census.py <sf_dir>

Prints every registered query sorted by name with its physical-operator
count and the counts of the plan features a refactor must not move
(exchanges, joins, scans, windows, window group limits, Python
operators), plus Project and Filter counts. The last line is a checksum
over all rows, so two censuses compare with one line.
"""
import hashlib
import os
import re
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

sf_dir = sys.argv[1]

from oracle_vector_search_spark.plans.inspect import python_operators  # noqa: E402
from oracle_vector_search_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entry  # noqa: E402

spark = get_spark("plan_census")
qs = entry.queries()

COLS = ("ops", "ex", "smj", "bhj", "scan", "win", "wgl", "py", "proj", "filt")
lines = [" ".join(f"{c:>4}" for c in COLS) + "  name"]
for name in sorted(qs):
    try:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    except Exception:
        lines.append(
            f"ERROR {traceback.format_exc(limit=1).splitlines()[-1]}  {name}"
        )
        continue
    head = plan.split("\n\n")[0]
    row = (
        len(re.findall(r"^\(\d+\) ", plan, re.M)),
        len(re.findall(r"\bExchange\b", head)),
        head.count("SortMergeJoin"),
        head.count("BroadcastHashJoin"),
        len(re.findall(r"Scan parquet|Scan ExistingRDD", head)),
        len(re.findall(r"\bWindow \(", head)),
        len(re.findall(r"\bWindowGroupLimit \(", head)),
        len(python_operators(head)),
        len(re.findall(r"\bProject \(", head)),
        len(re.findall(r"\bFilter \(", head)),
    )
    lines.append(" ".join(f"{v:4d}" for v in row) + f"  {name}")

for line in lines:
    print(line)
digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
print(f"total censused: {len(lines) - 1}  checksum: {digest}")
