"""Plain numpy / pandas / Python reference implementations.

Each function here is the straightforward form of an engine operator:
no Spark, no packing, no batching tricks.  Tests run the engine's one
production implementation and compare it with these, row for row and
(where the engine promises it) bit for bit.
"""

from __future__ import annotations

import hashlib
import json
import math

import numpy as np
import pandas as pd

from openelevationservice_spark.constants import (COORD_PRECISION, NODATA, PX,
                                                  TILE_DEG, TILE_PX, WORLD_X0,
                                                  WORLD_Y0)
from openelevationservice_spark.functions import image_codec
from openelevationservice_spark.functions.dissolve import dissolve_pixels_rings
from openelevationservice_spark.functions.geometry import (points_in_ring,
                                                           ring_to_arrays)
from openelevationservice_spark.operators.dedup import MERSENNE31, minhash_perm_consts

DENSIFY_COLS = ["line_id", "x1", "y1", "seq", "x", "y", "dist"]


def densify(lines: pd.DataFrame) -> pd.DataFrame:
    """``densify_lines`` over a pandas frame (line_id, x1, y1, x2, y2):
    the reference vertex set — P1, the interpolated points at
    t = frac, 2·frac, … (n = floor(1/frac)), P2 — deduplicated and in
    distance order, with the same IEEE operations in the same order as
    the engine, so coordinates and distances compare bit for bit."""
    x1 = lines["x1"].to_numpy(np.float64)
    y1 = lines["y1"].to_numpy(np.float64)
    x2 = lines["x2"].to_numpy(np.float64)
    y2 = lines["y2"].to_numpy(np.float64)
    dx = x2 - x1
    dy = y2 - y1
    ln = np.sqrt(dx * dx + dy * dy)
    with np.errstate(divide="ignore"):
        frac = np.where(ln == 0.0, 1.0, np.minimum(1.0, COORD_PRECISION / ln))
    n_int = np.where(ln == 0.0, 0, np.floor(1.0 / frac)).astype(np.int64)
    # the last interpolated point is dropped when it is P2 again
    t_last = n_int * frac
    tail = (n_int >= 1) & ((t_last >= 1.0)
                           | ((x1 + t_last * dx == x2) & (y1 + t_last * dy == y2)))
    n_keep = n_int - tail.astype(np.int64)
    p2 = (x2 != x1) | (y2 != y1)
    cnt = 1 + n_keep + p2.astype(np.int64)
    off = np.concatenate([[0], np.cumsum(cnt)])
    li = np.repeat(np.arange(len(lines)), cnt)
    j = np.arange(off[-1]) - off[li]
    is_p1 = j == 0
    is_p2 = p2[li] & (j == cnt[li] - 1)
    t = j * frac[li]
    x = np.where(is_p1, x1[li], np.where(is_p2, x2[li], x1[li] + t * dx[li]))
    y = np.where(is_p1, y1[li], np.where(is_p2, y2[li], y1[li] + t * dy[li]))
    ddx = x - x1[li]
    ddy = y - y1[li]
    return pd.DataFrame({
        "line_id": lines["line_id"].to_numpy(np.int64)[li],
        "x1": x1[li], "y1": y1[li],
        "seq": (j + 1).astype(np.int32),
        "x": x, "y": y,
        "dist": np.sqrt(ddx * ddx + ddy * ddy),
    }, columns=DENSIFY_COLS)


def pixel_rows(polys: pd.DataFrame, images: pd.DataFrame) -> pd.DataFrame:
    """``polygon_pixels`` over pandas frames: every pixel of every
    decoded tile whose centroid the ring covers (boundary inclusive)
    and whose value is not NODATA, one polygon × one pixel at a time —
    no cover-cell join, no rectangle fast path, no runs.  Columns
    (poly_id, gx, gy, z, x, y, image_id)."""
    out = []
    for img in images.itertuples():
        cap = json.loads(img.caption)
        grid = image_codec.decode(img.bytes, img.fmt, int(img.w), int(img.h))
        h, w = grid.shape
        tx = int(round((cap["ul_x"] - WORLD_X0) / TILE_DEG))
        ty = int(round((WORLD_Y0 - cap["ul_y"]) / TILE_DEG))
        jj, ii = np.meshgrid(np.arange(w), np.arange(h))
        cx = cap["ul_x"] + (jj + 0.5) * cap["px"]
        cy = cap["ul_y"] - (ii + 0.5) * cap["px"]
        for poly in polys.itertuples():
            rx, ry = ring_to_arrays(poly.ring)
            mask = points_in_ring(cx.ravel(), cy.ravel(), rx, ry).reshape(h, w)
            mask &= grid != NODATA
            iy, ix = np.nonzero(mask)
            out.append(pd.DataFrame({
                "poly_id": np.int64(poly.poly_id),
                "gx": tx * TILE_PX + ix.astype(np.int64),
                "gy": ty * TILE_PX + iy.astype(np.int64),
                "z": grid[iy, ix].astype(np.int32),
                "x": cx[iy, ix], "y": cy[iy, ix],
                "image_id": img.image_id,
            }))
    return pd.concat(out, ignore_index=True)


def signed_area2(loop) -> int:
    """Twice the shoelace signed area of a loop (not closed), exact."""
    s = 0
    n = len(loop)
    for i in range(n):
        x1, y1 = loop[i]
        x2, y2 = loop[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return s


def dissolve_area_px(polys) -> float:
    """Total area in pixel units of a ``dissolve_pixels`` result, from
    its closed ring vertices (holes count negative)."""
    return sum(signed_area2(ring[:-1]) / 2.0 for rings in polys for ring in rings)


def _n_components(g: np.ndarray, conn: int) -> int:
    """Connected components of a boolean grid (conn ∈ {4, 8}):
    adjacency pairs from numpy shifts, merged with union-find."""
    n = int(g.sum())
    if n == 0:
        return 0
    idx = np.full(g.shape, -1, dtype=np.int64)
    idx[g] = np.arange(n)
    parent = np.arange(n)

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    shifts = [((slice(None), slice(None, -1)), (slice(None), slice(1, None))),
              ((slice(None, -1), slice(None)), (slice(1, None), slice(None)))]
    if conn == 8:
        shifts += [((slice(None, -1), slice(None, -1)), (slice(1, None), slice(1, None))),
                   ((slice(None, -1), slice(1, None)), (slice(1, None), slice(None, -1)))]
    for sa, sb in shifts:
        m = g[sa] & g[sb]
        for a, b in zip(idx[sa][m].tolist(), idx[sb][m].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
    return len({find(a) for a in range(n)})


def label_counts(gx: np.ndarray, gy: np.ndarray) -> tuple[int, int, int, int]:
    """(C4, C8, H4, H8) for the cell set by labelling a dense occupancy
    grid: foreground components under 4- and 8-connectivity, and
    background holes under 4- and 8-connectivity (bounded background
    components of the 1-cell-padded bbox, minus the outer one).  Gray's
    formula ties them to the engine's quad counts:
    χ4 = C4 − H8 = (Q1 − Q3 + 2·QD)/4 and χ8 = C8 − H4 = (Q1 − Q3 − 2·QD)/4."""
    gx = np.asarray(gx, dtype=np.int64)
    gy = np.asarray(gy, dtype=np.int64)
    g = np.zeros((int(gy.max() - gy.min()) + 1, int(gx.max() - gx.min()) + 1), dtype=bool)
    g[gy - gy.min(), gx - gx.min()] = True
    bg = ~np.pad(g, 1)
    return (_n_components(g, 4), _n_components(g, 8),
            _n_components(bg, 4) - 1, _n_components(bg, 8) - 1)


def color_bands(banded: pd.DataFrame):
    """The reference colour pipeline over pixel rows that already carry
    their ``height_base`` (``with_height_base``): one dissolve per
    (poly_id, height_base) group.  Returns (invariants, features):
    invariants are the band's pixel count and its Euler numbers from
    union-find labelling (χ4 = C4 − H8, χ8 = C8 − H4); features are the
    traced rings in degrees, one row per polygon of the band."""
    inv, feats = [], []
    for (pid, hb), g in banded.groupby(["poly_id", "height_base"], sort=True):
        gx = g["gx"].to_numpy(np.int64)
        gy = g["gy"].to_numpy(np.int64)
        c4, c8, h4, h8 = label_counts(gx, gy)
        inv.append({"poly_id": pid, "height_base": hb,
                    "area_px": len(set(zip(gx.tolist(), gy.tolist()))),
                    "euler4": c4 - h8, "euler8": c8 - h4})
        polys, areas2 = dissolve_pixels_rings(gx, gy)
        for i, (rings, ra) in enumerate(zip(polys, areas2)):
            feats.append({
                "poly_id": pid, "height_base": hb, "feature_idx": i,
                "n_rings": len(rings), "area_px": sum(ra) / 2.0,
                "rings": tuple(tuple((WORLD_X0 + x * PX, WORLD_Y0 - y * PX)
                                     for x, y in ring) for ring in rings),
            })
    return pd.DataFrame(inv), pd.DataFrame(feats)


def minhash(texts, n_hashes: int, shingle_n: int) -> dict:
    """doc id → MinHash signature, in plain Python integers: word
    n-gram shingles of the single-space split, each hashed to the first
    32 bits of its md5, signature[i] = min over shingles of
    (a_i·h + b_i) mod 2^31−1.  Docs with no shingle (or no text) are
    absent."""
    consts = minhash_perm_consts(n_hashes)
    out = {}
    for doc_id, text in texts:
        if text is None:
            continue
        words = text.split(" ")
        shingles = [" ".join(words[k:k + shingle_n])
                    for k in range(len(words) - shingle_n + 1)]
        if not shingles:
            continue
        hs = [int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16) for s in shingles]
        out[doc_id] = [min((a * h + b) % MERSENNE31 for h in hs) for a, b in consts]
    return out


def cosine_topk(corpus: pd.DataFrame, queries: pd.DataFrame, k: int) -> pd.DataFrame:
    """Brute-force cosine top-k (q_id, rank, vec_id, sim) in plain
    Python floats: every (query, vector) pair is scored with the
    sequential-in-dimension fold the engine and the SQL oracle share
    (dot and squared norms summed x₀y₀ + x₁y₁ + … left to right), ranked
    by (sim desc, vec_id asc)."""
    def fold(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    rows = []
    vecs = [(vid, [float(v) for v in vec])
            for vid, vec in zip(corpus["vec_id"], corpus["embedding"])]
    for q_id, qv in zip(queries["q_id"], queries["q_vec"]):
        qv = [float(v) for v in qv]
        qn = math.sqrt(fold(qv, qv))
        scored = sorted(((-(fold(v, qv) / (math.sqrt(fold(v, v)) * qn)), vid)
                         for vid, v in vecs))
        rows += [(q_id, r + 1, vid, -neg) for r, (neg, vid) in enumerate(scored[:k])]
    return pd.DataFrame(rows, columns=["q_id", "rank", "vec_id", "sim"])
