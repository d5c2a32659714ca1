"""Freeze a LARGER trained IVF quantizer (k=64) plus its TWO-LEVEL
coarse grouping as committed literals (tank_spark/llm/ivf_frozen2.py) —
the deployment artifact behind ivf_twolevel_assignments, which promotes
the nlist-ceiling escape hatch (SCALE.md "Round-11: the nlist-ceiling
escape hatch, demonstrated") from a tool demo to a registered, oracle-checked operator.

Freeze steps (all training-side, none bit-portable, all FROZEN so the
serving side is exact):
  1. Lloyd's k-means over the corpus (train_kmeans, k, rounds) — the
     fine centroids.
  2. numpy k-means OVER THE FINE CENTROIDS (n_coarse, 10 rounds) — the
     coarse groups + their mean vectors (how a hierarchical IVF trains
     its top level).

Usage: python tools/freeze_ivf_twolevel.py [sf_dir] [k] [n_coarse] [rounds]
Rewrites tank_spark/llm/ivf_frozen2.py in place; commit the result.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HEADER = '''"""Frozen TWO-LEVEL IVF quantizer — trained once by
tools/freeze_ivf_twolevel.py (fine: Lloyd\'s k-means k={k}, {rounds}
rounds over {sf_dir} embeddings; coarse: numpy k-means n={n_coarse}
over the fine centroids) and committed as literals. Training is not
bit-portable, but given frozen centroids AND a frozen grouping, the
two-level routed assignment is a deterministic argmin of exact double
arithmetic on both engines — which is what gives
ivf_twolevel_assignments a full DuckDB oracle. repr() round-trips every
double exactly.

Regenerate (then re-commit) with:
    python tools/freeze_ivf_twolevel.py {sf_dir} {k} {n_coarse} {rounds}
"""

FROZEN2_TRAIN_SF = {sf_dir!r}
FROZEN2_K = {k}
FROZEN2_NCOARSE = {n_coarse}

'''


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    n_coarse = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    rounds = int(sys.argv[4]) if len(sys.argv) > 4 else 4

    import numpy as np
    from perfbench.session import make_session
    from tank_spark.llm.similarity import train_kmeans

    spark = make_session(ROOT)
    cents = sorted(
        (int(r["centroid_id"]), [float(v) for v in r["c_emb"]])
        for r in train_kmeans(spark, sf_dir, k=k, rounds=rounds).collect()
    )
    # renumber densely 0..k-1 (empty training lists may drop ids)
    cents = [(i, emb) for i, (_, emb) in enumerate(cents)]

    X = np.array([c for _, c in cents], dtype=np.float64)
    C = X[:n_coarse].copy()
    for _ in range(10):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        for g in range(n_coarse):
            if (a == g).any():
                C[g] = X[a == g].mean(axis=0)
    groups = [[int(i) for i in np.where(a == g)[0]] for g in range(n_coarse)]
    # no empty groups — but the grouping must stay a PARTITION (total,
    # disjoint: every consumer and test_frozen2_contract assume it), so
    # an empty group STEALS its nearest centroid from a donor group
    # that can spare one, rather than duplicating a membership
    for g, grp in enumerate(groups):
        if grp:
            continue
        for i in np.argsort(((X - C[g]) ** 2).sum(axis=1)):
            src = int(a[int(i)])
            if src != g and len(groups[src]) > 1:
                groups[src].remove(int(i))
                groups[g] = [int(i)]
                a[int(i)] = g
                break

    def emb_lit(vals) -> str:
        return "[" + ", ".join(repr(float(v)) for v in vals) + "]"

    out = HEADER.format(sf_dir=sf_dir, k=k, n_coarse=n_coarse,
                        rounds=rounds)
    out += ("# fine centroids: [(centroid_id, [64 doubles]), ...]\n"
            "FROZEN2_CENTROIDS: list[tuple[int, list[float]]] = [\n")
    for cid, emb in cents:
        out += f"    ({cid}, {emb_lit(emb)}),\n"
    out += "]\n\n"
    out += ("# coarse group means: [(gid, [64 doubles]), ...]\n"
            "FROZEN2_COARSE: list[tuple[int, list[float]]] = [\n")
    for g in range(n_coarse):
        out += f"    ({g}, {emb_lit(C[g])}),\n"
    out += "]\n\n"
    out += ("# gid -> member fine-centroid ids (the frozen routing)\n"
            f"FROZEN2_GROUPS: list[list[int]] = {groups!r}\n")
    path = "tank_spark/llm/ivf_frozen2.py"
    with open(path, "w") as f:
        f.write(out)
    sizes = [len(g) for g in groups]
    print(f"wrote {path}: k={len(cents)} fine, {n_coarse} coarse groups, "
          f"sizes={sizes}")


if __name__ == "__main__":
    main()
