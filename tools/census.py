#!/usr/bin/env python
"""Registry-wide timing census: every registered query in ONE
``perfbench.session`` session at the bench SF, noop sink, 1 cold +
1 warm run each. Numbers are UPPER bounds — all queries share one
cache, so InMemoryRelation eviction inflates the heavy tail; use
iso_probe.py for adjudication-grade medians. Prints a sorted-by-warm
table and the warm total.

Usage: python tools/census.py [SF_DIR]
"""
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from perfbench.session import make_session
    from tank_spark.plans.registry import load_all

    spark = make_session(ROOT)
    rows, errs = [], []
    for name, q in load_all().items():
        try:
            t0 = time.perf_counter()
            q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
            cold = time.perf_counter() - t0
            t0 = time.perf_counter()
            q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
            warm = time.perf_counter() - t0
            rows.append((warm, cold, name))
            print(f"{name} cold={cold:.2f} warm={warm:.2f}", flush=True)
        except Exception as e:  # noqa: BLE001 - census must finish
            errs.append((name, str(e)[:200]))
            print(f"ERR {name}: {e}", flush=True)
    rows.sort(reverse=True)
    print(f"\n# entries: {len(rows)}, errors: {len(errs)}, "
          f"warm total: {sum(r[0] for r in rows):.1f}s")
    print("# top 12 by warm:")
    for warm, cold, name in rows[:12]:
        print(f"| {name} | {cold:.2f} | {warm:.2f} |")
    spark.stop()


if __name__ == "__main__":
    main()
