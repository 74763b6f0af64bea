"""Seeded benchmark inputs and their expected outputs.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed``; the engine only ever receives the DataFrames and geometries
made here.  Expectations come from the tile world's defining integer
field (``sources.fixtures.z_field`` / ``z_sql_expr``) and from how the
inputs were built, never from the engine.

Sizes follow the sf0.1 TPC-H-derived tables the frozen ``bench.py``
replays (lineitem 600k rows, orders 150k, supplier 1k, documents 5k,
embeddings 2k), scaled where the time budget of a run needs it (see
``SIZES``).
"""

from __future__ import annotations

import hashlib
import itertools
from collections import defaultdict

import numpy as np
import pandas as pd

from openelevationservice_spark.constants import (COORD_PRECISION, NODATA, PX,
                                                  TILE_PX, WORLD_X0, WORLD_Y0)
from openelevationservice_spark.sources import fixtures as fx

#: the 1024-tile world of the frozen bench.py (32 x 32 tiles of 50 px)
WORLD = fx.World(tx0=4636, ty0=1242, nx=32, ny=32)
WPX = WORLD.nx * TILE_PX            # world width/height in pixels
GX0 = WORLD.tx0 * TILE_PX           # global pixel index of the world's west edge
GY0 = WORLD.ty0 * TILE_PX           # ... and of its north edge

SIZES = {
    "tiles": WORLD.n_tiles,
    "points": 600_000,               # sf0.1 lineitem rows
    "points_outside_share": 0.05,
    "points_hot_tile_share": 0.20,
    "lines": 75_000,                 # sf0.1 orders rows / 2
    "polygons": 50,                  # sf0.1 supplier rows / 20
    "polygon_side_px": (40, 160),    # 1 to 16 tiles per rectangle
    "docs": 5_000,                   # sf0.1 documents rows
    "doc_replicas": 2,
    "vectors": 10_000,               # sf0.1 embeddings x 5
    "vector_dim": 64,
    "ann_queries": 8,
}


def lon_of(gx):
    """Longitude of global pixel coordinate ``gx`` (fractional allowed)."""
    return WORLD_X0 + np.asarray(gx, dtype=np.float64) * PX


def lat_of(gy):
    return WORLD_Y0 - np.asarray(gy, dtype=np.float64) * PX


def pixel_of(lon, lat):
    """Global pixel (gx, gy) containing (lon, lat)."""
    gx = np.floor((np.asarray(lon, dtype=np.float64) - WORLD_X0) / PX).astype(np.int64)
    gy = np.floor((WORLD_Y0 - np.asarray(lat, dtype=np.float64)) / PX).astype(np.int64)
    return gx, gy


# --- elevation: point and line batches ----------------------------------

def replay_points(rng: np.random.Generator) -> tuple[pd.DataFrame, dict]:
    """Query points: most uniform over the world, a share piled onto one
    hot tile (skew) and a share outside coverage (unmatched rows).
    Each point sits strictly inside its pixel (10%-90% of the pixel), so
    the pixel it samples is unambiguous."""
    n = SIZES["points"]
    kind = rng.choice(3, size=n, p=[1 - SIZES["points_outside_share"]
                                    - SIZES["points_hot_tile_share"],
                                    SIZES["points_hot_tile_share"],
                                    SIZES["points_outside_share"]])
    lx = rng.integers(0, WPX, n)
    ly = rng.integers(0, WPX, n)
    hot_tx, hot_ty = rng.integers(0, WORLD.nx), rng.integers(0, WORLD.ny)
    hot = kind == 1
    lx[hot] = hot_tx * TILE_PX + rng.integers(0, TILE_PX, hot.sum())
    ly[hot] = hot_ty * TILE_PX + rng.integers(0, TILE_PX, hot.sum())
    out = kind == 2
    lx[out] = WPX + rng.integers(0, 4 * TILE_PX, out.sum())   # east of the world
    gx, gy = GX0 + lx, GY0 + ly
    pdf = pd.DataFrame({
        "point_id": rng.permutation(n).astype(np.int64),
        "lon": lon_of(gx + rng.uniform(0.1, 0.9, n)),
        "lat": lat_of(gy + rng.uniform(0.1, 0.9, n)),
    })
    z = fx.z_field(gx[~out], gy[~out]).astype(np.int64)
    expect = {"rows": n, "matched": int((~out).sum()), "sum_z": int(z.sum())}
    return pdf, expect


def replay_lines(rng: np.random.Generator) -> pd.DataFrame:
    """2-vertex lines between pixel centres, up to 60 px long per axis,
    wholly inside the world (every densified vertex is covered).  The
    per-axis extents are one fixed spread, shuffled by the seed, so every
    seed densifies about the same number of vertices."""
    n = SIZES["lines"]
    x1 = rng.integers(60, WPX - 60, n)
    y1 = rng.integers(60, WPX - 60, n)
    x2 = x1 + rng.permutation(spread(-60, 60, n))
    y2 = y1 + rng.permutation(spread(-60, 60, n))
    return pd.DataFrame({
        "line_id": np.arange(n, dtype=np.int64),
        "x1": lon_of(GX0 + x1 + 0.5), "y1": lat_of(GY0 + y1 + 0.5),
        "x2": lon_of(GX0 + x2 + 0.5), "y2": lat_of(GY0 + y2 + 0.5),
    })


#: quantisation of vertex coordinates in the line check: 1/16 pixel
QUANT = 16


def line_vertex_sums(lines: pd.DataFrame, chunk: int = 20_000) -> dict:
    """Exact sums over the vertices the reference's line densify emits.

    Per line (``querybuilder.py:197-217`` semantics): P1, the points at
    t = k * frac for k = 1..n with frac = min(1, COORD_PRECISION / len)
    and n = floor(1 / frac), the last of them dropped when t >= 1 or it
    lands on P2, then P2 unless the line has zero length; vertex ``seq``
    runs 1, 2, ... in that order.  The arithmetic is written out here,
    op by op, so the expected coordinates are bit-exact; they enter the
    sums quantised to 1/``QUANT`` pixel."""
    out = dict.fromkeys(("vertices", "sum_seq", "sum_id_seq", "sum_qx", "sum_qy"), 0)
    for lo in range(0, len(lines), chunk):
        c = lines.iloc[lo:lo + chunk]
        lid = c.line_id.to_numpy(np.int64)
        x1, y1 = c.x1.to_numpy(np.float64), c.y1.to_numpy(np.float64)
        x2, y2 = c.x2.to_numpy(np.float64), c.y2.to_numpy(np.float64)
        dx, dy = x2 - x1, y2 - y1
        ln = np.sqrt(dx * dx + dy * dy)
        with np.errstate(divide="ignore"):
            frac = np.where(ln == 0.0, 1.0, np.minimum(1.0, COORD_PRECISION / ln))
        n_int = np.where(ln == 0.0, 0, np.floor(1.0 / frac)).astype(np.int64)
        t_last = n_int * frac
        tail = (n_int >= 1) & ((t_last >= 1.0) | ((x1 + t_last * dx == x2)
                                                  & (y1 + t_last * dy == y2)))
        p2 = (x2 != x1) | (y2 != y1)
        cnt = 1 + n_int - tail + p2
        li = np.repeat(np.arange(len(c)), cnt)
        j = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        t = j * frac[li]
        first, last = j == 0, p2[li] & (j == cnt[li] - 1)
        x = np.where(first, x1[li], np.where(last, x2[li], x1[li] + t * dx[li]))
        y = np.where(first, y1[li], np.where(last, y2[li], y1[li] + t * dy[li]))
        out["vertices"] += int(cnt.sum())
        out["sum_seq"] += int((j + 1).sum())
        out["sum_id_seq"] += int((lid[li] * (j + 1)).sum())
        out["sum_qx"] += int(np.floor((x - WORLD_X0) / PX * QUANT).astype(np.int64).sum())
        out["sum_qy"] += int(np.floor((WORLD_Y0 - y) / PX * QUANT).astype(np.int64).sum())
    return out


# --- elevation: polygon batches ------------------------------------------

def spread(lo: int, hi: int, n: int) -> np.ndarray:
    """``n`` integers evenly spread over [lo, hi]."""
    return np.round(np.linspace(lo, hi, n)).astype(np.int64)


def rectangles(rng: np.random.Generator, n: int, side: tuple[int, int]) -> np.ndarray:
    """(n, 4) int64 pixel rectangles [gx0, gy0, w, h] inside the world,
    in global pixel indices; edges on pixel boundaries, so the covered
    pixel set is exactly the rectangle's pixels.  Widths and heights are
    one fixed spread over ``side``, paired and placed by the seed, so the
    total area hardly changes between seeds."""
    w = rng.permutation(spread(*side, n))
    h = rng.permutation(spread(*side, n))
    gx0 = GX0 + rng.integers(0, WPX - w)
    gy0 = GY0 + rng.integers(0, WPX - h)
    return np.stack([gx0, gy0, w, h], axis=1).astype(np.int64)


def rect_ring(r) -> list[tuple[float, float]]:
    gx0, gy0, w, h = (int(v) for v in r)
    x0, x1 = float(lon_of(gx0)), float(lon_of(gx0 + w))
    y1, y0 = float(lat_of(gy0)), float(lat_of(gy0 + h))
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]


def rect_pixels(r) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(gx, gy, z) of the rectangle's pixels with data (NODATA dropped,
    as the reference's centroid dump does)."""
    gx0, gy0, w, h = (int(v) for v in r)
    gx, gy = np.meshgrid(np.arange(gx0, gx0 + w), np.arange(gy0, gy0 + h))
    gx, gy = gx.ravel(), gy.ravel()
    z = fx.z_field(gx, gy)
    keep = z != NODATA
    return gx[keep], gy[keep], z[keep].astype(np.int64)


def area_polygons(rng: np.random.Generator) -> tuple[pd.DataFrame, dict]:
    rects = rectangles(rng, SIZES["polygons"], SIZES["polygon_side_px"])
    pdf = pd.DataFrame({
        "poly_id": np.arange(len(rects), dtype=np.int64),
        "ring": [[{"lon": x, "lat": y} for x, y in rect_ring(r)] for r in rects],
    })
    n_px, sum_z, sum_gx, sum_gy = [], 0, 0, 0
    for r in rects:
        gx, gy, z = rect_pixels(r)
        n_px.append(len(z))
        sum_z += int(z.sum())
        sum_gx += int(gx.sum())
        sum_gy += int(gy.sum())
    expect = {"pixels": int(sum(n_px)), "sum_z": sum_z, "sum_gx": sum_gx,
              "sum_gy": sum_gy, "pixels_per_poly": np.asarray(n_px, dtype=np.int64)}
    return pdf, expect


def dissolve_bands(rng: np.random.Generator, n_polys: int = 40,
                   num_ranges: int = 23):
    """Direct ``functions.dissolve.batch_invariants`` input: the elevation
    bands of ``n_polys`` rectangles, bucketed with the reference's
    colour-range formula, cells of each band contiguous.  Returns the
    argument tuple and each band's cell count (its dissolved area)."""
    rects = rectangles(rng, n_polys, SIZES["polygon_side_px"])
    bands, gxs, gys = [], [], []
    n_bands = 0
    for r in rects:
        gx, gy, z = rect_pixels(r)
        lo, hi = int(z.min()), int(z.max())
        range_div = (hi - lo + 1) / num_ranges
        hb = np.ceil(np.floor((z - lo) / range_div) * range_div + lo).astype(np.int64)
        order = np.argsort(hb, kind="stable")
        _, band_local = np.unique(hb[order], return_inverse=True)
        bands.append(band_local + n_bands)
        gxs.append(gx[order])
        gys.append(gy[order])
        n_bands += int(band_local.max()) + 1
    band = np.concatenate(bands)
    seg = np.searchsorted(band, np.arange(n_bands + 1))
    return (band, np.concatenate(gxs), np.concatenate(gys), n_bands, seg), np.diff(seg)


# --- requests -------------------------------------------------------------

def request(rng: np.random.Generator, kind: str, outside: bool):
    """One request geometry of a fixed size and, for a polygon, its
    pixel count.
    ``outside`` puts it east of the world, where the service must answer
    4002."""
    shift = WPX + 2 * TILE_PX if outside else 0
    if kind == "point":
        gx = GX0 + shift + rng.integers(0, WPX) + rng.uniform(0.1, 0.9)
        gy = GY0 + rng.integers(0, WPX) + rng.uniform(0.1, 0.9)
        return [float(lon_of(gx)), float(lat_of(gy))], None
    if kind == "line":
        # 30 px long (24 x 18), in a seeded direction
        x1, y1 = GX0 + shift + rng.integers(30, WPX - 30), GY0 + rng.integers(30, WPX - 30)
        dx, dy = rng.choice([-1, 1], 2) * (24, 18)
        return {"type": "LineString", "coordinates": [
            [float(lon_of(x1 + 0.5)), float(lat_of(y1 + 0.5))],
            [float(lon_of(x1 + dx + 0.5)), float(lat_of(y1 + dy + 0.5))]]}, None
    r = rectangles(rng, 1, (24, 24))[0]
    r[0] += shift
    return [[list(p) for p in rect_ring(r)]], len(rect_pixels(r)[2])


def requests(rng: np.random.Generator, n_rounds: int, kinds: tuple[str, ...]):
    """``n_rounds`` rounds of requests, each as (op name, kind, outside,
    geometry, expected pixel count): one of each of ``kinds`` inside
    coverage, then one outside it, whose kind cycles through ``kinds``
    from round to round."""
    rounds = []
    for i in range(n_rounds):
        rnd = [(f"{k}_request", k, False, *request(rng, k, False)) for k in kinds]
        k = kinds[i % len(kinds)]
        rnd.append(("outside_request", k, True, *request(rng, k, True)))
        rounds.append(rnd)
    return rounds


# --- dedup ----------------------------------------------------------------

#: the sf0.1 documents table, as measured: 5,000 documents of 10-100
#: words (uniform, mean 54) drawn uniformly from these 30 words; 233
#: near-duplicate groups hold 477 documents (223 pairs, 9 triples, one
#: quadruple).  A group's k-th copy is its first document followed by k
#: times the word "dup"; 8 of the 256 pairs within groups are exact
#: copies instead.  MinHash-LSH (8 hashes, 4 bands) pairs all 256 and
#: 496 unrelated documents that share a band by chance.
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
DOC_WORDS = (10, 100)
NEAR_DUP_GROUP_SHARE = 233 / (5000 - 477 + 233)     # of documents drawn
NEAR_DUP_GROUP_SIZES = ((2, 3, 4), (0.957, 0.039, 0.004))
EXACT_COPY_SHARE = 8 / 256


def documents(rng: np.random.Generator) -> tuple[pd.DataFrame, dict]:
    """Documents with the sf0.1 table's length, vocabulary and
    near-duplicate structure (``VOCAB``), copied into ``doc_replicas``
    disjoint namespaces: every word gets an ``r<i>x`` prefix (the
    bench.py scheme) and replica ``r`` holds ids ``r * docs ..``.

    The expected candidate pairs and clusters come from
    ``minhash_lsh_pairs``, per replica."""
    n, reps = SIZES["docs"], SIZES["doc_replicas"]
    texts: list[list[str]] = []
    while len(texts) < n:
        base = list(rng.choice(VOCAB, int(rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))))
        texts.append(base)
        if rng.random() >= NEAR_DUP_GROUP_SHARE:
            continue
        size = int(rng.choice(NEAR_DUP_GROUP_SIZES[0], p=NEAR_DUP_GROUP_SIZES[1]))
        for k in range(1, size):
            texts.append(base if rng.random() < EXACT_COPY_SHARE else base + ["dup"] * k)
    texts = [texts[i] for i in rng.permutation(n)]
    ids, rows, pairs = [], [], []
    for r in range(reps):
        rep_ids = range(r * n, (r + 1) * n)
        rep_texts = [" ".join(f"r{r}x{w}" for w in t) for t in texts]
        ids.extend(rep_ids)
        rows.extend(rep_texts)
        pairs.extend(minhash_lsh_pairs(rep_ids, rep_texts))
    pdf = pd.DataFrame({"doc_id": np.asarray(ids, dtype=np.int64), "text": rows})
    rep_of = components(pairs)
    expect = {"docs": n * reps, "pairs": len(pairs),
              "sum_id_a": sum(p[0] for p in pairs), "sum_id_b": sum(p[1] for p in pairs),
              "clusters": len(set(rep_of.values())), "clustered_docs": len(rep_of),
              # a document outside every pair is its own representative
              "sum_rep_id": n * reps * (n * reps - 1) // 2
                            + sum(rep - i for i, rep in rep_of.items())}
    return pdf, expect


MERSENNE31 = (1 << 31) - 1


def minhash_lsh_pairs(ids, texts, n_hashes: int = 8, bands: int = 4,
                      shingle_n: int = 3) -> list[tuple[int, int]]:
    """Candidate pairs (id_a < id_b) of MinHash-LSH, computed here with
    hashlib and numpy: a shingle is ``shingle_n`` consecutive words
    joined by one space, its base hash the first 8 hex digits of its md5,
    the i-th permutation ``(a_i * x + b_i) mod 2^31-1`` with a_i, b_i
    taken from the md5 of ``"a:<i>"`` / ``"b:<i>"``, and two documents
    pair when all ``n_hashes / bands`` minima of some band agree."""
    md5 = hashlib.md5
    a = np.array([int(md5(f"a:{i}".encode()).hexdigest()[:8], 16) % (MERSENNE31 - 1) + 1
                  for i in range(n_hashes)], dtype=np.int64)
    b = np.array([int(md5(f"b:{i}".encode()).hexdigest()[:8], 16) % MERSENNE31
                  for i in range(n_hashes)], dtype=np.int64)
    keep, xs, counts = [], [], []
    for did, text in zip(ids, texts):
        words = text.split(" ")
        m = len(words) - (shingle_n - 1)
        if m < 1:
            continue
        keep.append(did)
        counts.append(m)
        xs.extend(int(md5(" ".join(words[k:k + shingle_n]).encode()).hexdigest()[:8], 16)
                  for k in range(m))
    x = np.asarray(xs, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    sig = np.stack([np.minimum.reduceat((a[i] * x + b[i]) % MERSENNE31, starts)
                    for i in range(n_hashes)], axis=1)
    rows = n_hashes // bands
    pairs = set()
    for band in range(bands):
        buckets = defaultdict(list)
        for did, key in zip(keep, map(tuple, sig[:, band * rows:(band + 1) * rows])):
            buckets[key].append(did)
        for members in buckets.values():
            pairs.update(itertools.combinations(sorted(members), 2))
    return sorted(pairs)


def components(pairs) -> dict[int, int]:
    """{id: smallest id of its connected component} over the ids that
    occur in ``pairs``."""
    parent: dict[int, int] = {}

    def find(v):
        while parent.setdefault(v, v) != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {v: find(v) for v in parent}


def embeddings(rng: np.random.Generator) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Distinct float32 vectors around 10 centres; the queries are corpus
    vectors, so each query's top-1 must be itself."""
    n, dim = SIZES["vectors"], SIZES["vector_dim"]
    centres = rng.normal(size=(10, dim))
    vecs = (centres[rng.integers(0, 10, n)] + 0.5 * rng.normal(size=(n, dim))).astype(np.float32)
    corpus = pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs)})
    qids = rng.choice(n, SIZES["ann_queries"], replace=False)
    queries = pd.DataFrame({"q_id": qids.astype(np.int64), "q_vec": [vecs[i] for i in qids]})
    return corpus, queries
