#!/usr/bin/env python3
"""Regenerate ``perfbench/expected.json``: the md5s of the MVT audit
tiles (batch route, and the first tile through the single-tile route)
over the fixed stored feature data of ``perfbench/data.py``.

    python3 perfbench/refresh_expected.py

Run it from the root of a checkout after changing the stored data or the
tile encoder on purpose; review the diff.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import data
    from perfbench.oracle import EXPECTED_PATH
    from perfbench.run import OUT, _shutdown
    from perfbench.session import make_session
    from perfbench.tiles import AUDIT_TILES
    from tank_spark.api import Tank
    from tank_spark.operators.table_ops import write_feature_table
    from tank_spark.sources.features import features_df

    work = os.path.join(OUT, "refresh")
    shutil.rmtree(work, ignore_errors=True)
    data.write_tables(f"{work}/sf")
    spark = make_session(ROOT)
    try:
        write_feature_table(features_df(spark, f"{work}/sf"), f"{work}/table")
        tank = Tank(spark, f"{work}/table")
        rows = tank.tile_mvt_batch(list(AUDIT_TILES)).collect()
        audit = {f"{r.z}/{r.x}/{r.y}": hashlib.md5(bytes(r.mvt)).hexdigest() for r in rows}
        z, x, y = AUDIT_TILES[0]
        single = {f"{z}/{x}/{y}": hashlib.md5(tank.tile_mvt(z, x, y)).hexdigest()}
    finally:
        _shutdown(spark)
    with open(EXPECTED_PATH, "w") as f:
        json.dump({"audit_tiles": audit, "audit_tile_mvt": single}, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
