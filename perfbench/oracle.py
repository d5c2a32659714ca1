"""Expected outputs: a feature-count model for tile reads, committed md5s
of the MVT audit tiles, and digests of the curation entries' oracles.

The model starts from DuckDB over ``FEATURES_CTE`` (the program's own
oracle twin of the feature table) and follows every write the benchmark
sends, so reads after writes are checked too.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import os
from collections import Counter

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def report_failed(req: dict) -> None:
    """Name a request whose output check failed on stderr."""
    import sys

    brief = {k: v for k, v in req.items() if k != "rows"}
    print(f"perfbench: check failed: {brief}"[:2000], file=sys.stderr)


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def duckdb_con(sf_dir: str, tables=("lineitem", "documents", "embeddings")):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def result_digest(columns: list[str], rows) -> dict:
    """Order-insensitive digest of a result, with the value normalisation
    of the repo's oracle-parity check (tests/oracle_util.py)."""
    from tests.oracle_util import _norm

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    return {"columns": [columns[i] for i in order], "rows": len(norm),
            "sha256": hashlib.sha256(repr(norm).encode()).hexdigest()}


def stored_kind(key: int) -> str:
    from tank_spark.sources.features import KINDS

    return KINDS[key & 3]


class FeatureModel:
    """Feature counts per (Morton hash, kind), kept in step with writes.
    The hash of a feature is the Morton code of its zoom-13 tile."""

    def __init__(self, features: list[tuple[int, str, str]]):
        self.counts: dict[int, Counter] = {}
        self.stored: dict[str, tuple[int, str]] = {}  # uid -> (hash, kind)
        for h, uid, kind in features:
            self.counts.setdefault(h, Counter())[kind] += 1
            self.stored[uid] = (h, kind)
        self.hashes = sorted(self.counts)
        # stored features that may still be updated or deleted
        self.live = sorted((h, uid) for h, uid, _k in features)

    @classmethod
    def from_duckdb(cls, sf_dir: str) -> "FeatureModel":
        from tank_spark.sources.features import FEATURES_CTE

        con = duckdb_con(sf_dir, ("lineitem",))
        rows = con.execute(f"{FEATURES_CTE} SELECT hash, uid, kind FROM features").fetchall()
        con.close()
        return cls([(int(h), uid, kind) for h, uid, kind in rows])

    def total(self) -> int:
        return sum(sum(c.values()) for c in self.counts.values())

    def add_point(self, tile13: tuple[int, int], kind: str) -> None:
        """One ingested feature inside zoom-13 tile ``tile13``."""
        from tank_spark.geom.morton import interleave

        h = interleave(*tile13)
        if h not in self.counts:
            bisect.insort(self.hashes, h)
            self.counts[h] = Counter()
        self.counts[h][kind] += 1

    def pick(self, tile13: tuple[int, int], r: float) -> str:
        """A live stored feature of the zoom-13 tile, chosen by ``r`` in
        [0, 1); the next one in hash order when the tile has none."""
        from tank_spark.geom.morton import interleave

        h = interleave(*tile13)
        i = bisect.bisect_left(self.live, (h, ""))
        j = bisect.bisect_left(self.live, (h + 1, ""))
        k = i + int(r * (j - i)) if j > i else i
        return self.live[k % len(self.live)][1]

    def update(self, uid: str, kind: str) -> None:
        h, old = self.stored[uid]
        self.counts[h][old] -= 1
        self.counts[h][kind] += 1
        self.stored[uid] = (h, kind)

    def delete(self, uid: str) -> None:
        h, kind = self.stored.pop(uid)
        self.counts[h][kind] -= 1
        self.live.remove((h, uid))

    def count(self, z: int, x: int, y: int, kind: str | None = None) -> int:
        from tank_spark.operators.tiles import tile_hash_range

        lo, hi = tile_hash_range(z, x, y)
        i, j = bisect.bisect_left(self.hashes, lo), bisect.bisect_right(self.hashes, hi)
        cs = (self.counts[h] for h in self.hashes[i:j])
        return sum(c[kind] if kind else sum(c.values()) for c in cs)

    def heatmap(self, z: int, x: int, y: int) -> list[tuple[int, int, int]]:
        """The cells ``heatmap_oracle`` returns: the tile's cell grid
        joined to the per-hash counts in the tile's range, count > 0."""
        from tank_spark.operators.heatmap import cell_grid
        from tank_spark.operators.tiles import tile_hash_range

        lo, hi = tile_hash_range(z, x, y)
        out = []
        for i, j, h in cell_grid(z, x, y):
            n = sum(self.counts[h].values()) if lo <= h <= hi and h in self.counts else 0
            if n > 0:
                out.append((i, j, n))
        return sorted(out)
