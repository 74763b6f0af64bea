import math

import numpy as np
import pandas as pd
import pytest

from openelevationservice_spark.constants import NODATA, NUM_RANGES, PX, TILE_DEG, WORLD_X0, WORLD_Y0
from openelevationservice_spark.operators.color import (
    feature_collection,
    polygon_color_features,
    polygon_stats,
    with_height_base,
)
from openelevationservice_spark.operators.polygon import polygon_elevation, polygon_pixels
from openelevationservice_spark.sources import fixtures as fx

import oracles


def bbox_ring(x0, y0, x1, y1):
    return [
        {"lon": x0, "lat": y0}, {"lon": x1, "lat": y0},
        {"lon": x1, "lat": y1}, {"lon": x0, "lat": y1},
        {"lon": x0, "lat": y0},
    ]


def oracle_bbox_pixels(x0, y0, x1, y1, world):
    """All pixels with centroid covered by the bbox and z != NODATA."""
    rows = []
    gx0 = world.tx0 * 50
    gy0 = world.ty0 * 50
    for gy in range(gy0, gy0 + world.ny * 50):
        cy = WORLD_Y0 - (gy + 0.5) * PX
        if not (y0 <= cy <= y1):
            continue
        for gx in range(gx0, gx0 + world.nx * 50):
            cx = WORLD_X0 + (gx + 0.5) * PX
            if not (x0 <= cx <= x1):
                continue
            z = int(fx.z_field(np.array([gx]), np.array([gy]))[0])
            if z != NODATA:
                rows.append((gx, gy, cx, cy, z))
    return rows


@pytest.fixture(scope="module")
def world():
    return fx.World(nx=3, ny=3)


@pytest.fixture(scope="module")
def images_pdf(world):
    return fx.make_images_pdf(world)


@pytest.fixture(scope="module")
def images(spark, images_pdf):
    df = spark.createDataFrame(images_pdf, schema=fx.IMAGES_SCHEMA)
    df.persist()
    df.count()
    return df


POLY_SCHEMA = "poly_id long, ring array<struct<lon:double, lat:double>>"


def tri_and_box(world, tri_side, box_w, box_h, dy):
    """Two polygons anchored at the same corner: a right triangle (the
    general PIP path) and an axis-aligned box (the rectangle fast path)."""
    x0 = world.min_x + 0.1 * TILE_DEG
    y0 = world.max_y - dy * TILE_DEG
    tri = [
        {"lon": x0, "lat": y0},
        {"lon": x0 + tri_side * TILE_DEG, "lat": y0},
        {"lon": x0, "lat": y0 + tri_side * TILE_DEG},
        {"lon": x0, "lat": y0},
    ]
    return pd.DataFrame({"poly_id": [0, 1],
                         "ring": [tri, bbox_ring(x0, y0, x0 + box_w * TILE_DEG,
                                                 y0 + box_h * TILE_DEG)]})


def test_polygon_pixels_match_oracle(spark, world, images):
    # bbox spanning 4 tiles, like the gRPC AreaPointsElevation bbox requests
    x0 = world.min_x + 0.6 * TILE_DEG
    y0 = world.max_y - 1.7 * TILE_DEG
    x1 = world.min_x + 1.8 * TILE_DEG
    y1 = world.max_y - 0.4 * TILE_DEG
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0], "ring": [bbox_ring(x0, y0, x1, y1)]}),
        schema="poly_id long, ring array<struct<lon:double, lat:double>>",
    )
    got = polygon_pixels(polys, images).toPandas().sort_values(["gx", "gy"])
    want = sorted(oracle_bbox_pixels(x0, y0, x1, y1, world))
    assert len(got) == len(want)
    assert list(zip(got.gx, got.gy, got.z)) == [(g[0], g[1], g[4]) for g in want]


def test_polygon_elevation_ordered(spark, world, images):
    x0 = world.min_x + 0.2 * TILE_DEG
    y0 = world.max_y - 0.9 * TILE_DEG
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0], "ring": [bbox_ring(x0, y0, x0 + 0.5 * TILE_DEG, y0 + 0.5 * TILE_DEG)]}),
        schema="poly_id long, ring array<struct<lon:double, lat:double>>",
    )
    got = polygon_elevation(polys, images).toPandas()
    xy = list(zip(got.x, got.y))
    assert xy == sorted(xy)
    assert len(got) > 0


def test_triangle_polygon_subset_of_bbox(spark, world, images):
    # non-rectangular ring exercises the real PIP path
    x0 = world.min_x + 0.1 * TILE_DEG
    y0 = world.max_y - 1.0 * TILE_DEG
    tri = [
        {"lon": x0, "lat": y0},
        {"lon": x0 + TILE_DEG, "lat": y0},
        {"lon": x0, "lat": y0 + TILE_DEG},
        {"lon": x0, "lat": y0},
    ]
    schema = "poly_id long, ring array<struct<lon:double, lat:double>>"
    tri_px = polygon_pixels(
        spark.createDataFrame(pd.DataFrame({"poly_id": [0], "ring": [tri]}), schema=schema),
        images).toPandas()
    box_px = polygon_pixels(
        spark.createDataFrame(
            pd.DataFrame({"poly_id": [0], "ring": [bbox_ring(x0, y0, x0 + TILE_DEG, y0 + TILE_DEG)]}),
            schema=schema),
        images).toPandas()
    tri_set = set(zip(tri_px.gx, tri_px.gy))
    box_set = set(zip(box_px.gx, box_px.gy))
    assert tri_set < box_set
    assert 0.4 < len(tri_set) / len(box_set) < 0.6  # roughly half the box


def test_empty_polygon_yields_no_rows(spark, world, images):
    # fully outside coverage → reference raises 404 (querybuilder.py:80-81);
    # engine equivalent: empty result
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0], "ring": [bbox_ring(world.max_x + 1, 10, world.max_x + 2, 11)]}),
        schema="poly_id long, ring array<struct<lon:double, lat:double>>",
    )
    assert polygon_pixels(polys, images).count() == 0


def test_band_arithmetic_matches_reference(spark, world, images):
    x0 = world.min_x + 0.3 * TILE_DEG
    y0 = world.max_y - 1.5 * TILE_DEG
    schema = "poly_id long, ring array<struct<lon:double, lat:double>>"
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0], "ring": [bbox_ring(x0, y0, x0 + TILE_DEG, y0 + TILE_DEG)]}),
        schema=schema)
    px_df = polygon_pixels(polys, images)
    stats = polygon_stats(px_df).toPandas()
    banded = with_height_base(px_df, polygon_stats(px_df)).toPandas()

    mn, mx = int(stats.min_z[0]), int(stats.max_z[0])
    range_div = (mx - mn + 1) / NUM_RANGES
    for _, r in banded.sample(n=min(200, len(banded)), random_state=0).iterrows():
        color_range = math.floor((r.z - mn) / range_div)
        assert r.height_base == math.ceil(color_range * range_div + mn)


def test_color_features_cover_all_pixels(spark, world, images):
    x0 = world.min_x + 0.3 * TILE_DEG
    y0 = world.max_y - 1.5 * TILE_DEG
    schema = "poly_id long, ring array<struct<lon:double, lat:double>>"
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0], "ring": [bbox_ring(x0, y0, x0 + 0.7 * TILE_DEG, y0 + 0.7 * TILE_DEG)]}),
        schema=schema)
    feats = polygon_color_features(polys, images).toPandas()
    n_px = polygon_pixels(polys, images).count()
    assert feats["area_px"].sum() == n_px  # dissolve is exact: areas add up
    fc = feature_collection(feats)
    assert fc["type"] == "FeatureCollection"
    assert all(f["properties"]["heightBase"] is not None for f in fc["features"])
    # every band present in pixels appears as >=1 feature
    banded = with_height_base(polygon_pixels(polys, images),
                              polygon_stats(polygon_pixels(polys, images))).toPandas()
    assert set(feats.height_base) == set(banded.height_base)


def test_pixel_runs_equal_pixel_rows(spark, world, images, images_pdf):
    """The run-length-encoded kernel (rect fast path + JVM posexplode)
    equals the per-pixel PIP oracle over the decoded tiles — identical
    rows, coordinates bit-equal, on a rectangle, a triangle (the
    general-PIP path) and a rectangle whose edges pass exactly through
    pixel centroids (boundary pixels are covered)."""
    # centroid = tile origin + (i + 0.5) * PX, the kernel's arithmetic;
    # the box spans two tiles, so each edge uses its own tile's origin
    ul_x0 = WORLD_X0 + world.tx0 * TILE_DEG
    ul_x1 = WORLD_X0 + (world.tx0 + 1) * TILE_DEG
    ul_y = WORLD_Y0 - world.ty0 * TILE_DEG
    on_centroids = bbox_ring(ul_x0 + 5.5 * PX, ul_y - 30.5 * PX,
                             ul_x1 + 10.5 * PX, ul_y - 7.5 * PX)
    pdf = pd.concat([tri_and_box(world, 1.0, 0.7, 0.9, 1.0),
                     pd.DataFrame({"poly_id": [2], "ring": [on_centroids]})],
                    ignore_index=True)
    polys = spark.createDataFrame(pdf, schema=POLY_SCHEMA)
    key = ["poly_id", "gx", "gy"]
    cols = key + ["z", "x", "y", "image_id"]
    got = (polygon_pixels(polys, images).select(cols)
           .toPandas().sort_values(key).reset_index(drop=True))
    want = (oracles.pixel_rows(pdf, images_pdf)[cols]
            .sort_values(key).reset_index(drop=True))
    assert len(got) == len(want) > 100
    assert set(got["poly_id"]) == {0, 1, 2}
    for c in cols:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c


def test_is_axis_rect_detector():
    import numpy as np
    from openelevationservice_spark.operators.polygon import _is_axis_rect
    rect = (np.array([0.0, 2.0, 2.0, 0.0, 0.0]), np.array([0.0, 0.0, 3.0, 3.0, 0.0]))
    assert _is_axis_rect(*rect)
    tri = (np.array([0.0, 2.0, 0.0, 0.0]), np.array([0.0, 0.0, 3.0, 0.0]))
    assert not _is_axis_rect(*tri)
    # degenerate (zero-width) rectangle: fast path is still exact there
    # (points_in_ring's even-odd crossings cancel, leaving on_edge ==
    # the boundary-inclusive interval test), so detecting it is fine
    line = (np.array([0.0, 0.0, 0.0, 0.0, 0.0]), np.array([0.0, 0.0, 3.0, 3.0, 0.0]))
    assert _is_axis_rect(*line)
    # axis-aligned hexagon (L-shape) → not a rect
    ell = (np.array([0.0, 2.0, 2.0, 1.0, 1.0, 0.0, 0.0]),
           np.array([0.0, 0.0, 1.0, 1.0, 2.0, 2.0, 0.0]))
    assert not _is_axis_rect(*ell)


def test_dissolve_bands_of_one_polygon_spread_across_tasks(spark, world, images):
    """Scale shape of the dissolve (VERDICT r2 next-round #1): the
    kernel partitions by (poly_id, height_base), NOT poly_id alone, so
    a continental polygon's bands land in DIFFERENT tasks — peak task
    memory ∝ largest band, and no straggler-by-construction."""
    from pyspark.sql import functions as F

    x0 = world.min_x + 0.1 * TILE_DEG
    y0 = world.max_y - 2.5 * TILE_DEG
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [7], "ring": [bbox_ring(x0, y0, x0 + 2 * TILE_DEG, y0 + 2 * TILE_DEG)]}),
        schema="poly_id long, ring array<struct<lon:double, lat:double>>",
    )
    px = polygon_pixels(polys, images)
    banded = with_height_base(px, polygon_stats(px))
    # AQE rightly coalesces this toy volume into one partition; disable
    # coalescing to observe the hash spread that holds at real volume
    saved = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        parts = (
            banded.select("poly_id", "height_base")
            .repartition("poly_id", "height_base")   # same shape as the kernel
            .select(F.spark_partition_id().alias("pid"), "height_base")
            .distinct()
            .toPandas()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", saved)
    assert parts["height_base"].nunique() > 1          # polygon has many bands
    assert parts["pid"].nunique() > 1                  # ... in many tasks
    # and each band stays whole (one task per band)
    assert parts.groupby("height_base")["pid"].nunique().max() == 1


def test_blob_stats_equal_pixel_stats(spark, world, images):
    """blob_stats (aggregates of the run blobs' per-pair scalars) must
    be value-identical to polygon_stats over the exploded pixel rows —
    including the double avg (exact integer sum / count in both)."""
    from openelevationservice_spark.operators.polygon import (
        blob_stats, polygon_pixel_run_blobs,
    )

    polys = spark.createDataFrame(tri_and_box(world, 1.0, 0.7, 0.9, 1.0),
                                  schema=POLY_SCHEMA)
    a = (blob_stats(polygon_pixel_run_blobs(polys, images))
         .toPandas().sort_values("poly_id").reset_index(drop=True))
    b = (polygon_stats(polygon_pixels(polys, images))
         .toPandas().sort_values("poly_id").reset_index(drop=True))
    assert len(b) == 2
    pd.testing.assert_frame_equal(a[list(b.columns)], b, check_dtype=False)
    assert (a["avg_z"].to_numpy() == b["avg_z"].to_numpy()).all()


def test_dissolve_subrun_shape_equals_pixel_shape(spark, world, images):
    """The dissolve (packed run blobs → band-split subruns → batched
    kernel) equals the pandas oracle over pixel rows — polygon_pixels +
    with_height_base, then per band the ring dissolve and union-find
    Euler numbers: identical invariants AND identical traced features,
    on a rectangle (rect fast path) and a triangle (general PIP, runs
    split across bands)."""
    from openelevationservice_spark.operators.color import (
        polygon_color_invariants,
    )

    polys = spark.createDataFrame(tri_and_box(world, 1.4, 0.8, 1.1, 1.6),
                                  schema=POLY_SCHEMA)
    px = polygon_pixels(polys, images)
    banded = (with_height_base(px, polygon_stats(px))
              .select("poly_id", "gx", "gy", "height_base").toPandas())
    want_inv, want_f = oracles.color_bands(banded)

    key = ["poly_id", "height_base"]
    inv = (polygon_color_invariants(polys, images)
           .toPandas().sort_values(key).reset_index(drop=True))
    assert len(inv) == len(want_inv) > 10
    pd.testing.assert_frame_equal(inv, want_inv, check_dtype=False)

    fkey = key + ["feature_idx"]
    f = (polygon_color_features(polys, images)
         .toPandas().sort_values(fkey).reset_index(drop=True))
    assert len(f) == len(want_f) > 10
    for c in fkey + ["n_rings", "area_px"]:
        assert (f[c].to_numpy() == want_f[c].to_numpy()).all(), c
    # ring geometry: compare as canonical vertex tuples per feature
    def canon(rings):
        return tuple(tuple((p["x"], p["y"]) for p in ring) for ring in rings)
    assert [canon(r) for r in f["rings"]] == list(want_f["rings"])
