#!/usr/bin/env python
"""Isolated fresh-session probe: ONE query in a fresh
``perfbench.session`` session, sf dir from argv, one untimed warm-up
then N timed runs to the noop sink; prints the sorted runs and median.
Compare two commits by alternating their runs on the same host.

Usage: python tools/iso_probe.py QUERY [SF_DIR] [RUNS]
"""
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
name = sys.argv[1]
sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
runs_n = int(sys.argv[3]) if len(sys.argv) > 3 else 5

from perfbench.session import make_session  # noqa: E402
from tank_spark.plans.registry import load_all  # noqa: E402

spark = make_session(ROOT)
q = load_all()[name]
t0 = time.perf_counter()
q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
cold = time.perf_counter() - t0
runs = []
for _ in range(runs_n):
    t0 = time.perf_counter()
    q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
    runs.append(time.perf_counter() - t0)
runs.sort()
print(f"RESULT {name} sf={sf_dir} cold={cold:.2f} "
      f"runs={[round(r, 3) for r in runs]} median={runs[len(runs)//2]:.3f}")
spark.stop()
