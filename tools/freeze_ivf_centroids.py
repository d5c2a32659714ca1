"""Train the IVF coarse quantizer ONCE and freeze the centroids as
committed literals (tank_spark/llm/ivf_frozen.py) — the deployment step
between ivf_train_kmeans (the training job, rows-only: distributed
float means are not bit-portable) and ivf_trained_probe_search (the
serving path, FULL oracle: given frozen centroids, assignment is exact
double arithmetic on both engines). Same freeze discipline as
classifier.FROZEN_LR.

Usage: python tools/freeze_ivf_centroids.py [sf_dir] [k] [rounds]
Rewrites tank_spark/llm/ivf_frozen.py in place; commit the result.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HEADER = '''"""Frozen IVF coarse centroids — trained once by
tools/freeze_ivf_centroids.py (Lloyd\'s k-means: llm/similarity.py
train_kmeans, k={k}, {rounds} rounds, over {sf_dir} embeddings) and
committed as literals, exactly as classifier.FROZEN_LR freezes the
deployed LR weights. The TRAINING run is not bit-portable across
engines (distributed float means), but given frozen centroids the
ASSIGNMENT is a deterministic argmin of exact double arithmetic — which
is what upgrades the trained-quantizer serving path to a full DuckDB
oracle. repr() round-trips every double exactly.

Regenerate (then re-commit) with:
    python tools/freeze_ivf_centroids.py {sf_dir} {k} {rounds}
"""

FROZEN_TRAIN_SF = {sf_dir!r}
FROZEN_K = {k}
FROZEN_ROUNDS = {rounds}

# [(centroid_id, [64 doubles]), ...] sorted by centroid_id
FROZEN_CENTROIDS: list[tuple[int, list[float]]] = [
'''


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 4

    from perfbench.session import make_session
    from tank_spark.llm.similarity import train_kmeans

    spark = make_session(ROOT)
    cents = sorted(
        (int(r["centroid_id"]), [float(v) for v in r["c_emb"]])
        for r in train_kmeans(spark, sf_dir, k=k, rounds=rounds).collect()
    )
    # renumber densely 0..len-1 and freeze the ACTUAL count: training
    # can drop a centroid whose inverted list empties in a round, and
    # the consumers' contract is dense ids + len == FROZEN_K (the
    # sibling freeze_ivf_twolevel.py handles this the same way)
    cents = [(i, emb) for i, (_, emb) in enumerate(cents)]
    k = len(cents)
    out = HEADER.format(sf_dir=sf_dir, k=k, rounds=rounds)
    for cid, emb in cents:
        vals = ", ".join(repr(v) for v in emb)
        out += f"    ({cid}, [{vals}]),\n"
    out += "]\n"
    path = "tank_spark/llm/ivf_frozen.py"
    with open(path, "w") as f:
        f.write(out)
    print(f"wrote {path}: k={len(cents)} centroids from {sf_dir}")


if __name__ == "__main__":
    main()
