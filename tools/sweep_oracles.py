"""Driver-shaped oracle sweep: run EVERY registered query with an oracle
at a given sf dir and compare against DuckDB exactly like the round
driver does (tests/oracle_util.compare). Rows-only queries get a weaker
rows>=0 execution check, like the driver.

Usage: python tools/sweep_oracles.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # run from anywhere, like the other tools


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from perfbench.session import make_session
    from tank_spark.plans.registry import load_all
    from tests.oracle_util import compare

    spark = make_session(ROOT)
    queries = load_all()
    n_pass = n_fail = n_rows_only = 0
    failures: list[str] = []
    for name in queries:
        t0 = time.monotonic()
        try:
            if queries[name].oracle is None:
                n = queries[name].spark(spark, sf_dir).count()
                assert n >= 0
                n_rows_only += 1
                status = f"rows-only ({n} rows)"
            else:
                compare(spark, sf_dir, name)
                n_pass += 1
                status = "pass"
        except Exception as e:  # noqa: BLE001 — report and continue
            n_fail += 1
            failures.append(name)
            status = f"FAIL: {e}"
            traceback.print_exc(limit=1)
        print(f"{name}: {status} [{time.monotonic() - t0:.1f}s]", flush=True)

    print(
        f"\nSWEEP {sf_dir}: {n_pass} pass, {n_rows_only} rows-only, "
        f"{n_fail} fail" + (f" -> {failures}" if failures else "")
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
