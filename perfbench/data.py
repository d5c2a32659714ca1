"""Seeded inputs of the benchmark.

Two kinds of input, kept apart on purpose:

* the **stored data** (``lineitem``, ``documents``, ``embeddings``) is
  generated from the fixed ``DATA_SEED``: tile blobs have stable md5s that
  an audit set can pin, and the curation entries' cost, which follows how
  the vectors fill their candidate lists, does not move with the seed
  (it moved ~25% from one seeded corpus to the next);
* the **requests** (tile coordinates, op mix, ingest payloads, write
  targets, curation entry order) come from the run's ``--seed``.

Only the generated files and request tuples reach the program.
"""

from __future__ import annotations

import itertools
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

# stored-data sizes: a tenth of the repo's sf0.1 lineitem and half its
# corpus, so three set-up rounds, a warm-up and the measured cycles fit
# the benchmark's per-run time budget
N_ORDERS = 8_000           # 7 lines each: 56k lineitem rows / features
N_DOCS = 2_500
N_VECS = 1_000
EMB_DIM = 64

# the feature block (tank_spark.sources.features): 64x64 zoom-13 tiles
BASE_X, BASE_Y, BLOCK = 1280, 3136, 64

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
KINDS = ("road", "building", "poi", "water")


# ------------------------------------------------------------ stored data

def write_tables(sf_dir: str) -> None:
    """Write ``lineitem``, ``documents`` and ``embeddings`` parquet files
    (the driver-table schemas the program reads) into ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    pq.write_table(_lineitem(rng), f"{sf_dir}/lineitem.parquet")
    pq.write_table(_documents(rng), f"{sf_dir}/documents.parquet")
    pq.write_table(_embeddings(rng), f"{sf_dir}/embeddings.parquet")


def _lineitem(rng) -> pa.Table:
    # every order has lines 1..7, so every key 8*orderkey + line exists
    okey = np.repeat(np.arange(1, N_ORDERS + 1, dtype=np.int64), 7)
    lnum = np.tile(np.arange(1, 8, dtype=np.int32), N_ORDERS)
    n = len(okey)
    day0 = np.datetime64("1995-01-01", "ms")
    ship = day0 + rng.integers(0, 2500, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(1, 20_000, n, dtype=np.int64),
        "l_suppkey": rng.integers(1, 1_000, n, dtype=np.int64),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": pa.array(ship, pa.timestamp("ms")),
    })


def _documents(rng) -> pa.Table:
    """Random-word documents with ~5% near-duplicates (an earlier
    document plus one token) and a few exact copies."""
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.053:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    lang_p = [0.41] + [0.59 / 4] * 4
    return pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=lang_p),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng) -> pa.Table:
    """Unit vectors around 10 weak label centres, ~3% near-copies."""
    centres = rng.standard_normal((10, EMB_DIM))
    labels = rng.integers(0, 10, N_VECS).astype(np.int32)
    x = rng.standard_normal((N_VECS, EMB_DIM)) + 0.6 * centres[labels]
    for i in range(20, N_VECS):
        if rng.random() < 0.03:
            j = int(rng.integers(0, i))
            x[i] = x[j] + 0.02 * rng.standard_normal(EMB_DIM)
            labels[i] = labels[j]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    return pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": labels,
    })


# ------------------------------------------------------------- requests

def _zipf_pick(rng: random.Random, items: list, s: float = 1.1):
    """Zipf-skewed choice over ``items`` (rank 1 is the hottest)."""
    weights = [1.0 / (i + 1) ** s for i in range(len(items))]
    return rng.choices(items, weights)[0]


def _pyramid(rng: random.Random, zooms: range) -> dict[int, list]:
    """Per zoom, the block's tiles in a seed-shuffled popularity order."""
    out = {}
    for z in zooms:
        span = BLOCK >> (13 - z) if z <= 13 else BLOCK << (z - 13)
        bx = BASE_X >> (13 - z) if z <= 13 else BASE_X << (z - 13)
        by = BASE_Y >> (13 - z) if z <= 13 else BASE_Y << (z - 13)
        tiles = [(z, bx + i, by + j) for i in range(span) for j in range(span)]
        rng.shuffle(tiles)
        out[z] = tiles[:256]
    return out


# out-of-block tiles: valid coordinates with no stored feature
EMPTY_TILES = [(9, 70, 190), (11, 300, 700), (13, 1000, 3000), (15, 4000, 12000)]
OVERVIEW = (7, 20, 49)

# One ``tile_read`` cycle: one request of each read op type, in a
# seed-shuffled order; the tile cache is off.
TILE_READS = ("tile", "tile_filter", "heatmap", "lookup", "mvt_batch", "mvt")
# One ``tile_write_mix`` cycle, in this order: an ingest and an update or
# delete by uid (update in even cycles, delete in odd ones, so every run of
# two cycles or more holds both: an update costs ~0.5 s more), both inside
# one hot z13 tile; three MVT reads of that tile (the first misses the cache
# the writes just invalidated, the next two hit); one heatmap. The serving
# mix it stands for (60% mvt, 25% ingest, 10% update/delete, 5% heatmap)
# needs a 20-op cycle, ~47 s at the measured op costs, which does not fit
# one run; this 6-op cycle keeps every op kind.
WRITE_MIX = ("ingest", "uid_write", "mvt", "mvt_hit", "mvt_hit", "heatmap")
UID_WRITES = ("update", "delete")
N_HOT = 6


def _ingest_batch(rng: random.Random, batch_id: int, tile: tuple) -> dict:
    """One NDJSON ingest batch of 50-500 point features strictly inside
    the hot z13 ``tile``; a seeded few carry an un-coercible ``score``, so
    the dead-letter path runs."""
    import math

    _, x, y = tile
    rows, bad = [], 0
    for i in range(rng.randint(50, 500)):
        fx, fy = rng.uniform(0.05, 0.95), rng.uniform(0.05, 0.95)
        lon = (x + fx) / 8192.0 * 360.0 - 180.0
        lat = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (y + fy) / 8192.0))))
        score = str(round(rng.uniform(0, 100), 3))
        if rng.random() < 0.03:
            score, bad = "abc", bad + 1
        rows.append(json.dumps({
            "id": f"ing-{batch_id}-{i}", "lon": lon, "lat": lat,
            "kind": rng.choice(KINDS), "score": score,
            "cnt": str(rng.randint(0, 20)), "tag": f"tag{rng.randint(0, 16)}",
        }))
    return {"op": "ingest", "tile": tile, "rows": rows, "rejected": bad}


def uid_write(rng: random.Random, op: str, tile: tuple) -> dict:
    """An update (new ``kind``) or delete of one stored feature of the z13
    ``tile``; ``pick`` in [0, 1) chooses which one when the request runs."""
    req = {"op": op, "tile": tile, "pick": rng.random()}
    if op == "update":
        req["kind"] = rng.choice(KINDS)
    return req


def _read(rng: random.Random, op: str, pyr: dict) -> dict:
    req: dict = {"op": op}
    if op == "lookup":
        req["uid"] = f"feat-{8 * rng.randint(1, N_ORDERS) + 1}"
    elif op == "mvt_batch":
        # 4-8 sibling tiles of one z11-z13 parent pair, under the sampling
        # budget, so every rendered count equals its scan count
        z = rng.choice((11, 12, 13))
        _, px, py = _zipf_pick(rng, pyr[z - 1])
        req["tiles"] = [(z, 2 * px + i // 2, 2 * py + i % 2)
                        for i in range(rng.randint(4, 8))]
    elif op == "mvt":
        # z11-z13: under the sampling budget, and whole z13 hash cells, so
        # the rendered count equals the scan count (a z14+ tile's hash
        # range is its parent z13 tile, which the encoder clips)
        req["tile"] = _zipf_pick(rng, pyr[rng.randrange(11, 14)])
    else:
        r = rng.random()
        if r < 0.04:
            req["tile"] = OVERVIEW
        elif r < 0.08:
            req["tile"] = rng.choice(EMPTY_TILES)
        else:
            req["tile"] = _zipf_pick(rng, pyr[rng.randrange(9, 16)])
        if op == "tile_filter":
            req["filter"] = json.dumps({"kind": rng.choice(KINDS)})
    return req


def tile_read_cycles(seed: int):
    """Endless ``tile_read`` cycles for ``seed``: reads Zipf-skewed over the
    block's z9-z15 pyramid, plus a few z7 overview and out-of-block tiles
    (repeats intended)."""
    rng = random.Random(seed)
    pyr = _pyramid(rng, range(9, 16))
    while True:
        reads = [_read(rng, op, pyr) for op in TILE_READS]
        rng.shuffle(reads)
        yield reads


def write_mix_cycles(seed: int):
    """Endless ``tile_write_mix`` cycles for ``seed``: writes into a small
    Zipf-skewed hot set of z13 tiles, each followed by reads of the tile
    they invalidated."""
    rng = random.Random(seed)
    pyr = _pyramid(rng, range(9, 16))
    # column x = BASE_X of the block holds no stored feature
    hot = [(13, BASE_X + rng.randrange(1, BLOCK), BASE_Y + rng.randrange(BLOCK))
           for _ in range(N_HOT)]
    for cycle in itertools.count():
        t = _zipf_pick(rng, hot, 0.8)
        yield [_ingest_batch(rng, cycle, t), uid_write(rng, UID_WRITES[cycle % 2], t),
               {"op": "mvt", "tile": t}, {"op": "mvt_hit", "tile": t},
               {"op": "mvt_hit", "tile": t}, _read(rng, "heatmap", pyr)]


# The whole curation pass. ``curation_batch`` runs only the shuffle-heavy
# MinHash-LSH dedup: each entry adds ~5-10 s of cold warm-up and ~2-4 s a
# pass to every run, and a full comparison of two commits (4 + 22 runs per
# workload in BENCHMARK.json) must fit 3420 s. Its passes are flat from
# the first warm one (~2.1, then ~1.9 s); those of the two-level literal
# quantizer (semdedup_incremental_twolevel, ROADMAP direction 3) and of
# pq_adc_topk still fall by 15-35% over five passes, so a run's median
# sits on that slope. ``curation_full`` runs all of them.
CURATION_ALL = (
    "dedup_minhash_lsh_pairs", "dedup_incremental_batch",
    "semdedup_incremental_twolevel", "ivf_twolevel_probe_search",
    "hybrid_search_rrf", "bloom_decontaminate", "doc_winnow_fingerprints",
    "neardup_hyperplane_lsh_pairs", "pq_adc_topk", "media_dedup_incremental",
    "lm_surprisal_score",
)
CURATION_ENTRIES = ("dedup_minhash_lsh_pairs",)


def curation_cycles(seed: int, entries: tuple[str, ...] = CURATION_ENTRIES):
    """Endless curation passes: every pass runs ``entries`` in one
    seed-fixed order."""
    order = list(entries)
    random.Random(seed).shuffle(order)
    while True:
        yield [{"op": name} for name in order]
