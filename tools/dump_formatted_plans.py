#!/usr/bin/env python
"""Dump .explain('formatted') for headline queries into a directory.

Usage: python tools/dump_formatted_plans.py OUT_DIR SUFFIX [name ...]

OUT_DIR is created if missing (the committed r14 dumps live in
plans/r14/); each plan is written to OUT_DIR/<name>_<SUFFIX>.txt.
SUFFIX is 'before' or 'after'; with no names, dumps every bench.HEADLINE
query. OPTIMIZATION_r14.md cites the committed dumps for its plan
claims.
"""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

if len(sys.argv) < 3:
    sys.exit(__doc__)
out_dir, suffix = os.path.abspath(sys.argv[1]), sys.argv[2]
names = sys.argv[3:]

from bench import HEADLINE  # noqa: E402
from perfbench.session import make_session  # noqa: E402
from tank_spark.plans.registry import load_all  # noqa: E402

spark = make_session(ROOT)
reg = load_all()
if not names:
    names = list(HEADLINE)

os.makedirs(out_dir, exist_ok=True)
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

for name in names:
    try:
        df = reg[name].spark(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
    except Exception as e:  # noqa: BLE001 - a plan dump must not die mid-list
        plan = f"ERROR building plan: {e}\n"
    with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
        f.write(plan)
    print(f"dumped {name}_{suffix}.txt ({len(plan)} bytes)")

spark.stop()
