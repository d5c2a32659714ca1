"""DuckDB oracle SQL generators for the multimodal family.

VERDICT r7's top gap: all 10 multimodal driver rows were rows-only — the
weakest signal class — even though every stub kernel is a DETERMINISTIC
function of ``md5(text)`` bytes (multimodal.media_df derives payloads as
the md5 keystream ``unhex(md5(text) || md5(text || ':1'))``). This module
re-expresses each kernel as exact integer arithmetic over those 32 bytes
and emits the equivalent DuckDB SQL, so the image/audio/video operators
get full hash-matched oracles.

Why integer-exact twins are legitimate (not float-fragile):

* **image dHash** (multimodal._luma_plane_stub + dhash64): the stub plane
  is block-constant (4x8 byte grid kron-tiled to 24x32), so every pooled
  8x9 cell is a small rational ``S/area`` with ``area in {9,12}``; two
  distinct cell values differ by >= 1/36 while float64 rounding error is
  ~1e-13, so the kernel's float ``>`` equals the cross-multiplied integer
  comparison ``S_right*w_left > S_left*w_right`` bit-for-bit (ties give
  exactly-equal rationals -> identical doubles -> False on both sides).
* **audio fingerprint** (audio._pcm_stub + audio_fingerprint64): samples
  are ``(b-128)/128`` held for 128-sample blocks; window energies are
  rationals ``S/(16384*w)`` with ``w <= 64`` — distinct values differ by
  >= ~1.5e-8, again far above float64 error, so the energy-delta sign is
  the integer comparison ``w_i*S_{i+1} > w_{i+1}*S_i`` over
  ``q_k = (b_k-128)^2``.
* **video signature** (video._frames_stub + video_signature64): the 12
  stub frames are 3 scenes x 4 identical frames, each scene the dHash of
  a byte-rotated payload — so the strict-majority vote collapses to the
  bitwise 2-of-3 majority ``(h0&h1)|(h0&h2)|(h1&h2)`` of three dHashes.

The banded Hamming join, hot-bucket cap, connected components and
survivor selection are plain relational SQL (the same recursive
min-reachable-label CTE as dedup_lsh_clusters).

Every generator returns a static SQL string at import time (cheap string
assembly; no Spark or DuckDB dependency here), so ``@register`` keeps its
declarative shape.
"""

from __future__ import annotations

from collections import Counter

# Mirrors of the kernel constants (imported values would create a
# circular import with multimodal.py; the twin tests pin equality).
FAKE_W, FAKE_H = 32, 24
N_BYTES = 32
PHASH_BANDS = 4
PHASH_HAM_T = 3
PHASH_BUCKET_CAP = 64
VARIANT_OFFSET = 1 << 62

PCM_BLOCKS = 32
PCM_BLOCK_LEN = 128
N_SAMPLES = PCM_BLOCKS * PCM_BLOCK_LEN  # 4096
FP_WINDOWS = 65

N_FRAMES_STUB = 12
SCENE_LEN = 4
SCENE_ROLL = 7
CUT_HAM_T = 12

RESIZE_W, RESIZE_H = 16, 8
RESAMPLE_OUT = 512


def _lin_bounds(total: int, n: int) -> list[int]:
    """Truncated-linspace boundaries — int(np.linspace(0, total, n+1)),
    the pooling convention shared by dhash64 / audio_fingerprint64 /
    block_mean_resize (exact: i*total/n truncates like float linspace
    for these magnitudes; verified against numpy in tests)."""
    return [int(i * total / n) for i in range(n + 1)]


def byte_expr(i: int, h: str = "h") -> str:
    """SQL for byte ``i`` (0-based) of the 32-byte md5 keystream whose
    64-char lowercase hex lives in column ``h``."""
    p = 2 * i + 1  # 1-based substr position of the hex pair
    return (
        f"((strpos('0123456789abcdef', substr({h}, {p}, 1)) - 1) * 16 + "
        f"strpos('0123456789abcdef', substr({h}, {p + 1}, 1)) - 1)"
    )


_B = [f"b{i}" for i in range(N_BYTES)]
_BCOLS = ", ".join(_B)

# documents -> (doc_id, h): the payload derivation of media_df in hex
MH_CTE = "mh AS (SELECT doc_id, md5(text) || md5(text || ':1') AS h FROM documents)"
# (doc_id, b0..b31): payload bytes as integers
MB_CTE = "mb AS (SELECT doc_id, " + ", ".join(
    f"CAST({byte_expr(i)} AS BIGINT) AS b{i}" for i in range(N_BYTES)
) + " FROM mh)"


def slice_ctes(name: str, mod3: int, tweak_idx: int, tweak_delta: int) -> str:
    """CTEs for one modality: ``{name}`` = the base slice of mb,
    ``{name}_all`` = base + planted near-dup variants (every 5th row,
    one byte bumped, doc_id offset by VARIANT_OFFSET — exactly
    phash_media / fingerprint_media / signature_media)."""
    cols_tweaked = ", ".join(
        f"(b{tweak_idx} + {tweak_delta}) % 256 AS b{tweak_idx}" if i == tweak_idx
        else f"b{i}"
        for i in range(N_BYTES)
    )
    return (
        f"{name} AS (SELECT doc_id, {_BCOLS} FROM mb WHERE doc_id % 3 = {mod3}),\n"
        f"{name}_all AS (\n"
        f"  SELECT doc_id, {_BCOLS} FROM {name}\n"
        f"  UNION ALL\n"
        f"  SELECT doc_id + {VARIANT_OFFSET} AS doc_id, {cols_tweaked}\n"
        f"  FROM {name} WHERE doc_id % 15 = {mod3}\n"
        f")"
    )


# ------------------------------------------------------------- image dHash

def _dhash_col_weights() -> list[tuple[dict[int, int], int]]:
    """Per pooled column band: {g-col -> pixel count} and band width.
    The stub plane is g (4x8 bytes) tiled 6x4, pooled to 8x9 with
    truncated-linspace bounds; every 3-row band sits inside one g row,
    so only the column weights matter."""
    cb = _lin_bounds(FAKE_W, 9)
    out = []
    for j in range(9):
        c0, c1 = cb[j], cb[j + 1]
        cnt = Counter(c // (FAKE_W // 8) for c in range(c0, c1))
        out.append((dict(cnt), c1 - c0))
    return out


_COLW = _dhash_col_weights()


def dhash_expr(bcol, indent: str = "    ") -> str:
    """SQL expression for dhash64 of the stub plane whose g-grid byte at
    position ``p`` (row-major 4x8) is the SQL expression ``bcol(p)``.

    Exact-integer form of multimodal.dhash64 over
    multimodal._luma_plane_stub: pooled cell (ri, j) has g row ri//2 and
    value sum_k w_jk * B[8*(ri//2)+k] / (3*w_j); bit (ri*8+j) is 1 where
    cell j+1 > cell j, i.e. w_j*S_{j+1} > w_{j+1}*S_j. Packed MSB-first
    into SIGNED 64-bit (two's complement: the MSB term is -(2^63))."""
    terms = []
    for ri in range(8):
        gr = ri // 2
        for j in range(8):
            (wl, width_l), (wr, width_r) = _COLW[j], _COLW[j + 1]
            sl = " + ".join(f"{c}*{bcol(8 * gr + k)}" for k, c in sorted(wl.items()))
            sr = " + ".join(f"{c}*{bcol(8 * gr + k)}" for k, c in sorted(wr.items()))
            bit = ri * 8 + j
            val = -(1 << 63) if bit == 0 else 1 << (63 - bit)
            terms.append(
                f"CASE WHEN {width_l}*({sr}) > {width_r}*({sl}) "
                f"THEN CAST({val} AS BIGINT) ELSE 0 END"
            )
    joined = ("\n" + indent + "+ ").join(terms)
    return "(" + joined + ")"


def _ident(p: int) -> str:
    return f"b{p}"


def _rolled(roll: int):
    """g-grid position -> byte column of the payload rotated left by
    ``roll`` bytes (video._frames_stub: scene s views
    payload[k:] + payload[:k] with k = 7*s % 32)."""
    def bcol(p: int) -> str:
        return f"b{(p + roll) % N_BYTES}"
    return bcol


IMG_HASH_CTES = (
    MH_CTE + ",\n" + MB_CTE + ",\n"
    + slice_ctes("img", 0, 7, 8) + ",\n"
    + "img_hash AS (SELECT doc_id, "
    + dhash_expr(_ident) + " AS phash FROM img_all)"
)


# ------------------------------------------------- audio fingerprint

def _audio_windows() -> list[tuple[dict[int, int], int]]:
    """Per energy window: {pcm-block -> overlap length} and width
    (audio_fingerprint64: 65 truncated-linspace windows over 4096
    block-constant samples)."""
    bounds = _lin_bounds(N_SAMPLES, FP_WINDOWS)
    out = []
    for i in range(FP_WINDOWS):
        lo, hi = bounds[i], bounds[i + 1]
        w = {}
        for k in range(lo // PCM_BLOCK_LEN, (hi - 1) // PCM_BLOCK_LEN + 1):
            ov = min(hi, PCM_BLOCK_LEN * (k + 1)) - max(lo, PCM_BLOCK_LEN * k)
            if ov > 0:
                w[k] = ov
        out.append((w, hi - lo))
    return out


_AWIN = _audio_windows()


def audio_fp_expr(indent: str = "    ") -> str:
    """SQL for audio_fingerprint64 of the stub PCM clip: window energy
    e_i = sum_k w_ik*q_k / (16384*width_i) with q_k = (b_k-128)^2; bit i
    is 1 where e_{i+1} > e_i, i.e. width_i*S_{i+1} > width_{i+1}*S_i.
    MSB-first signed packing, same as dhash_expr. Uses columns q0..q31
    (squares), provided by AUD_HASH_CTES."""
    terms = []
    for i in range(FP_WINDOWS - 1):
        (wl, width_l), (wr, width_r) = _AWIN[i], _AWIN[i + 1]
        sl = " + ".join(f"{c}*q{k}" for k, c in sorted(wl.items()))
        sr = " + ".join(f"{c}*q{k}" for k, c in sorted(wr.items()))
        val = -(1 << 63) if i == 0 else 1 << (63 - i)
        terms.append(
            f"CASE WHEN {width_l}*({sr}) > {width_r}*({sl}) "
            f"THEN CAST({val} AS BIGINT) ELSE 0 END"
        )
    joined = ("\n" + indent + "+ ").join(terms)
    return "(" + joined + ")"


_QCOLS = ", ".join(f"(b{i}-128)*(b{i}-128) AS q{i}" for i in range(N_BYTES))

AUD_HASH_CTES = (
    MH_CTE + ",\n" + MB_CTE + ",\n"
    + slice_ctes("aud", 1, 15, 4) + ",\n"
    + f"audq AS (SELECT doc_id, {_QCOLS} FROM aud_all),\n"
    + "aud_hash AS (SELECT doc_id, " + audio_fp_expr() + " AS phash FROM audq)"
)


# ------------------------------------------------- video signature

def _video_scene_hash_cte(src: str, name: str) -> str:
    """CTE computing h0/h1/h2 — the dHash of each stub scene (payload
    rotated by 0/7/14 bytes; video._frames_stub + frame_hashes)."""
    cols = ", ".join(
        dhash_expr(_rolled((SCENE_ROLL * s) % N_BYTES)) + f" AS h{s}"
        for s in range(N_FRAMES_STUB // SCENE_LEN)
    )
    return f"{name} AS (SELECT doc_id, {cols} FROM {src})"


VID_HASH_CTES = (
    MH_CTE + ",\n" + MB_CTE + ",\n"
    + slice_ctes("vid", 2, 11, 8) + ",\n"
    + _video_scene_hash_cte("vid_all", "vid_h") + ",\n"
    # 12 frames = 3 scenes x 4 identical frames, so the strict-majority
    # vote (2*cnt > 12 -> cnt >= 8 -> at least 2 scenes) is the bitwise
    # 2-of-3 majority of the scene hashes
    + "vid_hash AS (SELECT doc_id, (h0 & h1) | (h0 & h2) | (h1 & h2) AS phash FROM vid_h)"
)

# base-slice-only variant (scene cuts / keyframes have no planted dups)
VID_BASE_HASH_CTES = (
    MH_CTE + ",\n" + MB_CTE + ",\n"
    + slice_ctes("vid", 2, 11, 8) + ",\n"
    + _video_scene_hash_cte("vid", "vid_hb")
)


# ------------------------------------- banded Hamming join + components

def pairs_ctes(src: str, keys: tuple[str, ...] = ()) -> str:
    """CTEs bands/hot/cold/pairs twinning multimodal.phash_neardup_pairs
    over a hash relation ``src(doc_id, phash[, keys...])``: 4x16-bit band
    buckets, hot-bucket cap {cap}, exact bit_count(xor) verify, distinct
    (doc_a < doc_b) pairs at Hamming <= {t}.""".format(
        cap=PHASH_BUCKET_CAP, t=PHASH_HAM_T)
    kcols = "".join(f", {k}" for k in keys)
    keq = "".join(f" AND a.{k} = c.{k}" for k in keys)
    keq_hot = "".join(f" AND hot.{k} = b.{k}" for k in keys)
    return f"""bands AS (
  SELECT doc_id, phash{kcols}, i.band_idx,
         (phash >> (16 * i.band_idx)) & 65535 AS band_val
  FROM {src}, (SELECT unnest([0, 1, 2, 3]) AS band_idx) i
),
hot AS (
  SELECT band_idx, band_val{kcols} FROM bands
  GROUP BY ALL HAVING COUNT(*) > {PHASH_BUCKET_CAP}
),
cold AS (
  SELECT b.* FROM bands b
  WHERE NOT EXISTS (SELECT 1 FROM hot
                    WHERE hot.band_idx = b.band_idx
                      AND hot.band_val = b.band_val{keq_hot})
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
         CAST(bit_count(xor(a.phash, c.phash)) AS INTEGER) AS hamming
  FROM cold a JOIN cold c
    ON a.band_idx = c.band_idx AND a.band_val = c.band_val{keq}
   AND a.doc_id < c.doc_id
  WHERE bit_count(xor(a.phash, c.phash)) <= {PHASH_HAM_T}
)"""


COMPONENTS_CTES = """und AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(cid, r) AS (
  SELECT DISTINCT src, src FROM und
  UNION
  SELECT u.dst, reach.r FROM reach JOIN und u ON u.src = reach.cid
),
comp AS (SELECT cid, MIN(r) AS component FROM reach GROUP BY cid)"""


def survivors_select(hash_src: str, extra_cols: str = "") -> str:
    """Final SELECT twinning the survivor join: every hashed row with
    (cluster = min-label component or self, keep = canonical/singleton).
    """
    return f"""SELECT hsrc.doc_id{extra_cols},
       COALESCE(comp.component, hsrc.doc_id) AS cluster,
       CAST(CASE WHEN comp.cid IS NULL OR comp.component = hsrc.doc_id
                 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM {hash_src} hsrc LEFT JOIN comp ON hsrc.doc_id = comp.cid"""


# ------------------------------------------------------- full oracles

IMAGE_PHASH_NEARDUP_SQL = f"""
WITH {IMG_HASH_CTES},
{pairs_ctes("img_hash")}
SELECT doc_a, doc_b, hamming FROM pairs
"""

IMAGE_PHASH_SURVIVORS_SQL = f"""
WITH RECURSIVE {IMG_HASH_CTES},
{pairs_ctes("img_hash")},
{COMPONENTS_CTES}
{survivors_select("img_hash")}
"""

AUDIO_FP_NEARDUP_SQL = f"""
WITH {AUD_HASH_CTES},
{pairs_ctes("aud_hash")}
SELECT doc_a, doc_b, hamming FROM pairs
"""

VIDEO_PHASH_NEARDUP_SQL = f"""
WITH {VID_HASH_CTES},
{pairs_ctes("vid_hash")}
SELECT doc_a, doc_b, hamming FROM pairs
"""

_MODAL_HASH_CTE = (
    "all_hash AS (\n"
    "  SELECT doc_id, phash, 'image' AS modality FROM img_hash\n"
    "  UNION ALL SELECT doc_id, phash, 'audio' FROM aud_hash\n"
    "  UNION ALL SELECT doc_id, phash, 'video' FROM vid_hash\n"
    ")"
)

# media_dedup_survivors: ONE modality-keyed banded join over all three
# hash families, one CC pass, keep flags for every media row. The three
# hash CTE chains share mh/mb, so they are emitted once. The chain is
# shared with the apply/report oracles below.
_MEDIA_SURV_CHAIN = f"""{MH_CTE},
{MB_CTE},
{slice_ctes("img", 0, 7, 8)},
img_hash AS (SELECT doc_id, {dhash_expr(_ident)} AS phash FROM img_all),
{slice_ctes("aud", 1, 15, 4)},
audq AS (SELECT doc_id, {_QCOLS} FROM aud_all),
aud_hash AS (SELECT doc_id, {audio_fp_expr()} AS phash FROM audq),
{slice_ctes("vid", 2, 11, 8)},
{_video_scene_hash_cte("vid_all", "vid_h")},
vid_hash AS (SELECT doc_id, (h0 & h1) | (h0 & h2) | (h1 & h2) AS phash FROM vid_h),
{_MODAL_HASH_CTE},
{pairs_ctes("all_hash", keys=("modality",))},
{COMPONENTS_CTES}"""

MEDIA_DEDUP_SURVIVORS_SQL = f"""
WITH RECURSIVE {_MEDIA_SURV_CHAIN}
{survivors_select("all_hash", ", hsrc.modality")}
"""

# apply/report: survivors joined back to documents for provenance —
# variant ids (the planted near-dup copies) map to their base doc's
# source through the shared VARIANT_OFFSET high bit
_SURV_CTE = f"surv AS ({survivors_select('all_hash', ', hsrc.modality')})"
_BASE_ID = (f"CASE WHEN s.doc_id >= {VARIANT_OFFSET} "
            f"THEN s.doc_id - {VARIANT_OFFSET} ELSE s.doc_id END")

MEDIA_DEDUP_APPLY_SQL = f"""
WITH RECURSIVE {_MEDIA_SURV_CHAIN},
{_SURV_CTE}
SELECT s.doc_id, s.modality, d.source, s.cluster
FROM surv s JOIN documents d ON {_BASE_ID} = d.doc_id
WHERE s.keep = 1
"""

MEDIA_DEDUP_REPORT_SQL = f"""
WITH RECURSIVE {_MEDIA_SURV_CHAIN},
{_SURV_CTE},
j AS (
  SELECT d.source, s.modality, s.cluster, s.keep
  FROM surv s JOIN documents d ON {_BASE_ID} = d.doc_id
)
SELECT source, modality,
       CAST(COUNT(*) AS BIGINT) AS n_media,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST(COUNT(*) - SUM(keep) AS BIGINT) AS n_dropped,
       CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) - SUM(keep) AS DOUBLE) / COUNT(*) AS dup_rate
FROM j GROUP BY source, modality
"""


# --------------------------------------------- scene cuts / keyframes

# cuts can only sit at the scene boundaries (frames within a scene are
# identical -> delta 0 < threshold); the oracle still COMPUTES the
# Hamming deltas rather than assuming them
VIDEO_SCENE_CUTS_SQL = f"""
WITH {VID_BASE_HASH_CTES},
deltas AS (
  SELECT doc_id,
         CAST(bit_count(xor(h0, h1)) AS INTEGER) AS d1,
         CAST(bit_count(xor(h1, h2)) AS INTEGER) AS d2
  FROM vid_hb
)
SELECT doc_id, CAST(0 AS INTEGER) AS cut_idx, CAST({SCENE_LEN} AS INTEGER) AS frame_idx,
       CAST({SCENE_LEN} * 250 AS BIGINT) AS ts_ms, d1 AS hamming
FROM deltas WHERE d1 >= {CUT_HAM_T}
UNION ALL
SELECT doc_id,
       CAST(CASE WHEN d1 >= {CUT_HAM_T} THEN 1 ELSE 0 END AS INTEGER) AS cut_idx,
       CAST({2 * SCENE_LEN} AS INTEGER) AS frame_idx,
       CAST({2 * SCENE_LEN} * 250 AS BIGINT) AS ts_ms, d2 AS hamming
FROM deltas WHERE d2 >= {CUT_HAM_T}
"""


def _thumb_hex(roll: int) -> str:
    """Hex of block_mean_resize(stub plane of rotated payload, 8, 16):
    the 16x8 thumbnail of a block-constant plane is the 4x8 byte grid
    with every byte doubled horizontally and every row doubled
    vertically, so its hex is the payload hex pairs re-arranged — no
    arithmetic at all (thumb[r][j] = B[perm(8*(r//2) + j//2)])."""
    pairs = []
    for r in range(RESIZE_H):
        gr = r // 2
        for j in range(RESIZE_W):
            p = (8 * gr + j // 2 + roll) % N_BYTES
            pairs.append(f"substr(h, {2 * p + 1}, 2)")
    # flat n-ary concat — chained `||` nests 128 deep and trips DuckDB's
    # binder recursion limit (max 128)
    return "concat(" + ",\n ".join(pairs) + ")"


# keyframes: frame 0 always; frame 4 when d1 crosses; frame 8 when d2
# crosses. scene_idx is the rank among emitted keyframes. Thumbs join
# back to the hex CTE; ts_ms = frame_idx * 250 (4 fps stub).
VIDEO_KEYFRAMES_SQL = f"""
WITH {VID_BASE_HASH_CTES},
deltas AS (
  SELECT doc_id,
         bit_count(xor(h0, h1)) AS d1,
         bit_count(xor(h1, h2)) AS d2
  FROM vid_hb
),
wanted AS (
  SELECT doc_id, 0 AS scene_pos, 0 AS frame_idx FROM deltas
  UNION ALL
  SELECT doc_id, 1, {SCENE_LEN} FROM deltas WHERE d1 >= {CUT_HAM_T}
  UNION ALL
  SELECT doc_id, 2, {2 * SCENE_LEN} FROM deltas WHERE d2 >= {CUT_HAM_T}
),
ranked AS (
  SELECT doc_id, frame_idx,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY scene_pos) - 1
              AS INTEGER) AS scene_idx
  FROM wanted
)
SELECT r.doc_id, r.scene_idx, CAST(r.frame_idx AS INTEGER) AS frame_idx,
       CAST(r.frame_idx * 250 AS BIGINT) AS ts_ms,
       CASE r.frame_idx
         WHEN 0 THEN {_thumb_hex(0)}
         WHEN {SCENE_LEN} THEN {_thumb_hex(SCENE_ROLL % N_BYTES)}
         ELSE {_thumb_hex((2 * SCENE_ROLL) % N_BYTES)}
       END AS thumb_hex
FROM ranked r JOIN mh ON r.doc_id = mh.doc_id
"""


# --------------------------------------------- map-only feature oracles

# media_extract_features: the stub decode is sum/max over the 32 bytes.
# mean_luma = (total/32)/255 — both divisions reproduce the kernel's
# float order (total/len exact dyadic, then one rounding by /255).
_BSUM = " + ".join(_B)
_BMAX = "greatest(" + ", ".join(_B) + ")"
MEDIA_EXTRACT_FEATURES_SQL = f"""
WITH {MH_CTE},
{MB_CTE}
SELECT doc_id,
       CASE (doc_id % 3) WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
                         ELSE 'video/mp4' END AS media_type,
       (CAST({_BSUM} AS DOUBLE) / 32) / 255 AS mean_luma,
       CAST({_BMAX} AS INTEGER) AS max_byte,
       CAST({FAKE_W} AS INTEGER) AS decoded_w,
       CAST({FAKE_H} AS INTEGER) AS decoded_h,
       CAST(NULL AS VARCHAR) AS decode_error
FROM mb
"""

# media_frame_sample: the stub frame digest is md5 over the payload hex
# string plus ':idx' (VARCHAR md5 — DuckDB has no BLOB md5)
MEDIA_FRAME_SAMPLE_SQL = f"""
WITH {MH_CTE},
frames AS (SELECT unnest([0, 1, 2]) AS frame_idx)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(frame_idx * 1000 AS BIGINT) AS ts_ms,
       md5(h || ':' || CAST(frame_idx AS VARCHAR)) AS frame_md5
FROM mh, frames
WHERE doc_id % 3 = 2
"""

# media_resize: thumbnail of the block-constant stub plane = the byte
# grid itself re-arranged (see _thumb_hex), emitted as hex
MEDIA_RESIZE_SQL = f"""
WITH {MH_CTE}
SELECT doc_id,
       CAST({FAKE_W} AS INTEGER) AS in_w, CAST({FAKE_H} AS INTEGER) AS in_h,
       CAST({RESIZE_W} AS INTEGER) AS out_w, CAST({RESIZE_H} AS INTEGER) AS out_h,
       {_thumb_hex(0)} AS resized_hex,
       CAST(NULL AS VARCHAR) AS resize_error
FROM mh WHERE doc_id % 3 = 0
"""


# audio_features: every feature of the block-constant stub clip reduces
# to exact byte arithmetic (see module docstring); rms/sqrt are
# correctly-rounded IEEE ops on exactly-representable inputs, so the
# doubles are bit-identical to the numpy kernel.
_QSUM = " + ".join(f"(b{i}-128)*(b{i}-128)" for i in range(N_BYTES))
_ABSMAX = "greatest(" + ", ".join(f"abs(b{i}-128)" for i in range(N_BYTES)) + ")"
_SILENT = " + ".join(
    f"CASE WHEN abs(b{i}-128) < 8 THEN 1 ELSE 0 END" for i in range(N_BYTES))
_CLIPPED = " + ".join(
    f"CASE WHEN abs(b{i}-128) >= 127 THEN 1 ELSE 0 END" for i in range(N_BYTES))
_ZC = " + ".join(
    f"CASE WHEN (b{i} < 128) <> (b{i - 1} < 128) THEN 1 ELSE 0 END"
    for i in range(1, N_BYTES))
AUDIO_FEATURES_SQL = f"""
WITH {MH_CTE},
{MB_CTE}
SELECT doc_id,
       CAST({N_SAMPLES} AS INTEGER) AS n_samples,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(512.0 AS DOUBLE) AS duration_ms,
       sqrt(CAST({_QSUM} AS DOUBLE) / {PCM_BLOCKS * 128 * 128}) AS rms,
       CAST({_ABSMAX} AS DOUBLE) / 128 AS peak,
       CAST({_SILENT} AS DOUBLE) / 32 AS silence_ratio,
       CAST({_CLIPPED} AS DOUBLE) / 32 AS clip_ratio,
       CAST({_ZC} AS DOUBLE) / {N_SAMPLES - 1} AS zero_cross_rate,
       CAST(NULL AS VARCHAR) AS decode_error
FROM mb WHERE doc_id % 3 = 1
"""

# audio_resample: output sample j is the level of pcm block j//16,
# re-quantized rint((x+1)*127.5) = (255*b + 128) // 256 (the only
# half-tie, b=128, rounds to the even 128 on both paths); the blob is
# each re-quantized byte's hex pair repeated 16x.
_RESAMPLE_HEX = "concat(" + ",\n ".join(
    f"repeat(lpad(lower(hex((255 * b{i} + 128) // 256)), 2, '0'), {RESAMPLE_OUT // N_BYTES})"
    for i in range(N_BYTES)
) + ")"
AUDIO_RESAMPLE_SQL = f"""
WITH {MH_CTE},
{MB_CTE}
SELECT doc_id,
       CAST({N_SAMPLES} AS INTEGER) AS in_samples,
       CAST(8000 AS INTEGER) AS in_rate,
       CAST({RESAMPLE_OUT} AS INTEGER) AS out_samples,
       CAST(1000.0 AS DOUBLE) AS out_rate,
       {_RESAMPLE_HEX} AS resampled_hex,
       CAST(NULL AS VARCHAR) AS resample_error
FROM mb WHERE doc_id % 3 = 1
"""


# ------------------------------------- incremental (delta) media dedup

# Batch ids: the text family's high-bit offset (dedup.INC_BATCH_OFFSET;
# the twin tests pin equality). 2x the offset still fits BIGINT.
INC_OFFSET = 1 << 61

# byte relations that also CARRY the payload hex (the exact-dup
# fingerprint): `h` is DuckDB md5 output (lowercase hex), equal to
# Spark's lower(hex(payload)) since payload = unhex(h).
MBH_CTE = "mbh AS (SELECT doc_id, h, " + ", ".join(
    f"CAST({byte_expr(i)} AS BIGINT) AS b{i}" for i in range(N_BYTES)
) + " FROM mh)"

# fresh-crawl payloads: a second md5 keystream, unrelated to the base
MHF_CTE = ("mhf AS (SELECT doc_id, md5(text || ':f') || md5(text || ':f1') "
           "AS h FROM documents)")
MBHF_CTE = "mbhf AS (SELECT doc_id, h, " + ", ".join(
    f"CAST({byte_expr(i)} AS BIGINT) AS b{i}" for i in range(N_BYTES)
) + " FROM mhf)"


def inc_slice_ctes(name: str, mod3: int, tweak_idx: int,
                   tweak_delta: int) -> str:
    """CTEs for one modality of the incremental-crawl fixture:
    ``{name}_ib`` = the INDEX side (the base slice, no variants) and
    ``{name}_bb`` = the BATCH side — verbatim re-crawls (every 5th base
    row, exact dups), one-byte-bumped near-dup copies (the same
    (tweak_idx, delta) as the modality's planted variants), and fresh
    synthetic payloads emitted twice (new_unique + dup_in_batch). Both
    relations carry (doc_id, h, b0..b31)."""
    tw_cols = ", ".join(
        f"(b{tweak_idx} + {tweak_delta}) % 256 AS b{tweak_idx}"
        if i == tweak_idx else f"b{i}"
        for i in range(N_BYTES)
    )
    tw_h = (
        f"substr(h, 1, {2 * tweak_idx}) || "
        f"lpad(lower(hex((b{tweak_idx} + {tweak_delta}) % 256)), 2, '0') || "
        f"substr(h, {2 * tweak_idx + 3})"
    )
    fresh_pred = f"doc_id % 3 = {mod3} AND doc_id % 15 = {mod3 + 6}"
    return f"""{name}_ib AS (
  SELECT doc_id, h, {_BCOLS} FROM mbh WHERE doc_id % 3 = {mod3}
),
{name}_bb AS (
  SELECT doc_id + {INC_OFFSET} AS doc_id, h, {_BCOLS}
  FROM {name}_ib WHERE doc_id % 15 = {mod3}
  UNION ALL
  SELECT doc_id + {INC_OFFSET} AS doc_id, {tw_h} AS h, {tw_cols}
  FROM {name}_ib WHERE doc_id % 15 = {mod3 + 3}
  UNION ALL
  SELECT doc_id + {INC_OFFSET} AS doc_id, h, {_BCOLS}
  FROM mbhf WHERE {fresh_pred}
  UNION ALL
  SELECT doc_id + {2 * INC_OFFSET} AS doc_id, h, {_BCOLS}
  FROM mbhf WHERE {fresh_pred}
)"""


def _img_hash_h(src: str, name: str) -> str:
    return f"{name} AS (SELECT doc_id, h, {dhash_expr(_ident)} AS phash FROM {src})"


def _aud_hash_h(src: str, name: str) -> str:
    return (f"{name}_q AS (SELECT doc_id, h, {_QCOLS} FROM {src}),\n"
            f"{name} AS (SELECT doc_id, h, {audio_fp_expr()} AS phash "
            f"FROM {name}_q)")


def _vid_hash_h(src: str, name: str) -> str:
    cols = ", ".join(
        dhash_expr(_rolled((SCENE_ROLL * s) % N_BYTES)) + f" AS h{s}"
        for s in range(N_FRAMES_STUB // SCENE_LEN)
    )
    return (f"{name}_f AS (SELECT doc_id, h, {cols} FROM {src}),\n"
            f"{name} AS (SELECT doc_id, h, "
            f"(h0 & h1) | (h0 & h2) | (h1 & h2) AS phash FROM {name}_f)")


_INC_CHAIN = f"""{MH_CTE},
{MBH_CTE},
{MHF_CTE},
{MBHF_CTE},
{inc_slice_ctes("img", 0, 7, 8)},
{inc_slice_ctes("aud", 1, 15, 4)},
{inc_slice_ctes("vid", 2, 11, 8)},
{_img_hash_h("img_ib", "img_ih")},
{_img_hash_h("img_bb", "img_bh")},
{_aud_hash_h("aud_ib", "aud_ih")},
{_aud_hash_h("aud_bb", "aud_bh")},
{_vid_hash_h("vid_ib", "vid_ih")},
{_vid_hash_h("vid_bb", "vid_bh")},
idx_hash AS MATERIALIZED (
  SELECT doc_id, h, phash, 'image' AS modality FROM img_ih
  UNION ALL SELECT doc_id, h, phash, 'audio' FROM aud_ih
  UNION ALL SELECT doc_id, h, phash, 'video' FROM vid_ih
),
bat_hash AS MATERIALIZED (
  SELECT doc_id, h, phash, 'image' AS modality FROM img_bh
  UNION ALL SELECT doc_id, h, phash, 'audio' FROM aud_bh
  UNION ALL SELECT doc_id, h, phash, 'video' FROM vid_bh
)"""

MEDIA_INDEX_BUILD_SQL = f"""
WITH {_INC_CHAIN}
SELECT doc_id, modality, h AS fp, phash, i.band_idx,
       (phash >> (16 * i.band_idx)) & 65535 AS band_val
FROM idx_hash, (SELECT unnest([0, 1, 2, 3]) AS band_idx) i
"""

def _hash_bands_cte(src: str, name: str) -> str:
    """(doc_id, modality, phash, band_idx, band_val) over a hash
    relation ``src(doc_id, h, phash, modality)``."""
    return f"""{name} AS (
  SELECT doc_id, modality, phash, i.band_idx,
         (phash >> (16 * i.band_idx)) & 65535 AS band_val
  FROM {src}, (SELECT unnest([0, 1, 2, 3]) AS band_idx) i
)"""


def media_disposition_ctes(bat: str, idx: str, p: str) -> str:
    """The full disposition chain twinning the media settings of
    dedup.disposition_against_index over hash relations ``bat`` and
    ``idx`` (each (doc_id, h, phash, modality)); emits CTEs prefixed
    ``{p}_`` ending in ``{p}_out(doc_id, modality, disposition,
    match_cid, n_bands_hit)``. Parameterized so the stream-replay
    oracle can probe a GROWN index with the identical rule set."""
    return f"""{_hash_bands_cte(idx, f"{p}_ibands")},
{_hash_bands_cte(bat, f"{p}_bbands")},
{p}_hot AS (
  SELECT modality, band_idx, band_val FROM {p}_ibands
  GROUP BY ALL HAVING COUNT(*) > {PHASH_BUCKET_CAP}
),
{p}_cold AS (
  SELECT b.* FROM {p}_ibands b
  WHERE NOT EXISTS (SELECT 1 FROM {p}_hot hot
                    WHERE hot.modality = b.modality
                      AND hot.band_idx = b.band_idx
                      AND hot.band_val = b.band_val)
),
{p}_exact AS (
  SELECT b.doc_id AS bcid, MIN(i.doc_id) AS exact_match
  FROM {bat} b JOIN {idx} i
    ON i.modality = b.modality AND i.h = b.h
  GROUP BY b.doc_id
),
{p}_inb AS (
  SELECT x.doc_id AS bcid, MIN(y.doc_id) AS batch_match
  FROM {bat} x JOIN {bat} y
    ON y.modality = x.modality AND y.h = x.h AND y.doc_id < x.doc_id
  GROUP BY x.doc_id
),
{p}_near AS (
  SELECT bb.doc_id AS bcid, MIN(ib.doc_id) AS near_match,
         CAST(COUNT(DISTINCT bb.band_idx) AS INTEGER) AS n_bands_hit
  FROM {p}_bbands bb JOIN {p}_cold ib
    ON ib.modality = bb.modality
   AND ib.band_idx = bb.band_idx AND ib.band_val = bb.band_val
   AND bit_count(xor(bb.phash, ib.phash)) <= {PHASH_HAM_T}
  GROUP BY bb.doc_id
),
{p}_out AS (
  SELECT b.doc_id, b.modality,
         CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup_of_index'
              WHEN i2.batch_match IS NOT NULL THEN 'dup_in_batch'
              WHEN n.near_match IS NOT NULL THEN 'near_dup_of_index'
              ELSE 'new_unique' END AS disposition,
         CASE WHEN e.exact_match IS NOT NULL THEN e.exact_match
              WHEN i2.batch_match IS NOT NULL THEN i2.batch_match
              ELSE n.near_match END AS match_cid,
         COALESCE(n.n_bands_hit, 0) AS n_bands_hit
  FROM {bat} b
  LEFT JOIN {p}_exact e ON b.doc_id = e.bcid
  LEFT JOIN {p}_inb i2 ON b.doc_id = i2.bcid
  LEFT JOIN {p}_near n ON b.doc_id = n.bcid
)"""


MEDIA_DEDUP_INC_SQL = f"""
WITH {_INC_CHAIN},
{media_disposition_ctes("bat_hash", "idx_hash", "d")}
SELECT doc_id, modality, disposition, match_cid, n_bands_hit FROM d_out
"""

# Stream replay: batch A (cid in [OFF, 2*OFF): re-crawls + near-dups +
# first fresh emission) probes index-0; A's new_unique survivors APPEND
# to the index; batch B (cid >= 2*OFF: the second fresh emission)
# probes the GROWN index — so B's rows disposition exact_dup_of_index
# against their batch-A twins instead of the batch op's dup_in_batch.
MEDIA_STREAM_REPLAY_SQL = f"""
WITH {_INC_CHAIN},
bat_a AS MATERIALIZED (SELECT * FROM bat_hash WHERE doc_id < {2 * INC_OFFSET}),
bat_b AS MATERIALIZED (SELECT * FROM bat_hash WHERE doc_id >= {2 * INC_OFFSET}),
{media_disposition_ctes("bat_a", "idx_hash", "a")},
new_a AS (SELECT doc_id FROM a_out WHERE disposition = 'new_unique'),
idx_1 AS MATERIALIZED (
  SELECT * FROM idx_hash
  UNION ALL
  SELECT bh.* FROM bat_hash bh JOIN new_a ON bh.doc_id = new_a.doc_id
),
{media_disposition_ctes("bat_b", "idx_1", "b")}
SELECT doc_id, CAST(1 AS INTEGER) AS batch_id, modality, disposition,
       match_cid, n_bands_hit
FROM a_out
UNION ALL
SELECT doc_id, CAST(2 AS INTEGER) AS batch_id, modality, disposition,
       match_cid, n_bands_hit
FROM b_out
"""

# The per-(modality, source) curation report over the media incremental
# disposition output — the media mirror of dedup_incremental_report.
# Provenance comes back through the high-bit id convention
# (orig doc_id = cid % INC_OFFSET, valid for both the +OFF and +2*OFF
# emissions since 2*OFF docs stay below 2^63 and doc_id < OFF).
MEDIA_DEDUP_INC_REPORT_SQL = f"""
WITH {_INC_CHAIN},
{media_disposition_ctes("bat_hash", "idx_hash", "d")},
src AS (
  SELECT o.modality, doc.source, o.disposition, o.match_cid
  FROM d_out o
  JOIN documents doc ON doc.doc_id = o.doc_id % {INC_OFFSET}
),
agg AS (
  SELECT modality, source, disposition,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT match_cid) AS BIGINT) AS n_matched_distinct
  FROM src GROUP BY modality, source, disposition
),
tot AS (SELECT modality, source, CAST(SUM(n_docs) AS BIGINT) AS n_src
        FROM agg GROUP BY modality, source)
SELECT a.modality, a.source, a.disposition, a.n_docs,
       CAST(ROUND(a.n_docs * 1000000.0 / t.n_src, 0) AS BIGINT)
         AS share_ppm,
       a.n_matched_distinct
FROM agg a JOIN tot t
  ON a.modality = t.modality AND a.source = t.source
"""

# The stream-replay curation report: the SAME per-(modality, source)
# report, computed per CRAWL DAY (batch) over the index-growth replay —
# so day 2's fresh emission reports exact_dup_of_index against day 1's
# survivors instead of day 1's new_unique. share_ppm is within
# (batch_id, modality, source): each day's report normalizes over that
# day's own batch.
MEDIA_STREAM_REPORT_SQL = f"""
WITH {_INC_CHAIN},
bat_a AS MATERIALIZED (SELECT * FROM bat_hash WHERE doc_id < {2 * INC_OFFSET}),
bat_b AS MATERIALIZED (SELECT * FROM bat_hash WHERE doc_id >= {2 * INC_OFFSET}),
{media_disposition_ctes("bat_a", "idx_hash", "a")},
new_a AS (SELECT doc_id FROM a_out WHERE disposition = 'new_unique'),
idx_1 AS MATERIALIZED (
  SELECT * FROM idx_hash
  UNION ALL
  SELECT bh.* FROM bat_hash bh JOIN new_a ON bh.doc_id = new_a.doc_id
),
{media_disposition_ctes("bat_b", "idx_1", "b")},
rep AS (
  SELECT doc_id, CAST(1 AS INTEGER) AS batch_id, modality, disposition,
         match_cid
  FROM a_out
  UNION ALL
  SELECT doc_id, CAST(2 AS INTEGER) AS batch_id, modality, disposition,
         match_cid
  FROM b_out
),
src AS (
  SELECT r.batch_id, r.modality, doc.source, r.disposition, r.match_cid
  FROM rep r JOIN documents doc ON doc.doc_id = r.doc_id % {INC_OFFSET}
),
agg AS (
  SELECT batch_id, modality, source, disposition,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT match_cid) AS BIGINT) AS n_matched_distinct
  FROM src GROUP BY batch_id, modality, source, disposition
),
tot AS (SELECT batch_id, modality, source,
               CAST(SUM(n_docs) AS BIGINT) AS n_src
        FROM agg GROUP BY batch_id, modality, source)
SELECT a.batch_id, a.modality, a.source, a.disposition, a.n_docs,
       CAST(ROUND(a.n_docs * 1000000.0 / t.n_src, 0) AS BIGINT)
         AS share_ppm,
       a.n_matched_distinct
FROM agg a JOIN tot t
  ON a.batch_id = t.batch_id AND a.modality = t.modality
 AND a.source = t.source
"""
