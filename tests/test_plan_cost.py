"""Per-call planning cost: each operator call builds a plan of a few
projections, and requests do not sort in Spark.

Every DataFrame step re-analyses the whole plan (10–15 ms each, even on
a one-row plan), so a ``withColumn`` chain creeping back into an
operator costs every request that much per step.  The bounds below are
the projection counts of the current operators; a new step must fold
into an existing projection or raise a bound here on purpose.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame

from openelevationservice_spark import api
from openelevationservice_spark.operators.color import (
    _invariants_partition,
    polygon_color_invariants,
)
from openelevationservice_spark.operators.line import line_vertices_elevation
from openelevationservice_spark.operators.point import point_elevation
from openelevationservice_spark.operators.polygon import (polygon_elevation,
                                                          polygon_pixels)
from openelevationservice_spark.operators.sample import pixel_index
from openelevationservice_spark.plans import exec as ex
from openelevationservice_spark.plans.session import default_driver_memory
from openelevationservice_spark.sources import fixtures as fx
from openelevationservice_spark.sources.tiles import tile_index

WORLD = fx.World(nx=4, ny=4)
TD = (WORLD.max_x - WORLD.min_x) / WORLD.nx     # one tile, in degrees


@pytest.fixture(scope="module")
def images(spark):
    df = spark.createDataFrame(fx.make_images_pdf(WORLD), schema=fx.IMAGES_SCHEMA)
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def svc(spark, images):
    return api.ElevationService(spark, images)


def _rect(spark, x0, y0, x1, y1):
    ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
    return spark.createDataFrame(
        pd.DataFrame({"poly_id": [0], "ring": [[{"lon": x, "lat": y} for x, y in ring]]}),
        schema=api.POLYGON_SCHEMA)


def _added_projects(df: DataFrame, *inputs: DataFrame) -> int:
    return ex.plan_node_count(df, "Project") - sum(
        ex.plan_node_count(i, "Project") for i in inputs)


def test_plan_node_count_sees_every_with_column(spark):
    df = spark.range(3)
    chained = df.withColumn("a", df.id + 1).withColumn("b", df.id + 2)
    assert _added_projects(chained, df) == 2
    assert _added_projects(df.withColumns({"a": df.id + 1, "b": df.id + 2}), df) == 1


def test_tile_index_projections(images):
    # caption parse + one projection of every derived column
    assert _added_projects(tile_index(images), images) <= 2


def test_polygon_pixels_projections(spark, images):
    polys = _rect(spark, WORLD.min_x + 0.3 * TD, WORLD.min_y + 0.3 * TD,
                     WORLD.min_x + 1.6 * TD, WORLD.min_y + 0.9 * TD)
    # the caller's select, tile index 2, cover-cell explode 2, the
    # join's output list, pixel-row explode, pixel columns
    assert _added_projects(polygon_pixels(polys.select("poly_id", "ring"), images),
                           images, polys) <= 8


def test_point_elevation_projections(spark, images):
    pix = pixel_index(images)
    pts = spark.createDataFrame(fx.make_points_pdf(WORLD, n=20))
    # cell id, index select, the join's output list, pixel indices + z
    assert _added_projects(point_elevation(pts, images, how="left", pix_index_df=pix),
                           pix, pts) <= 4


def test_line_vertices_elevation_projections(spark, images):
    pix = pixel_index(images)
    lines = spark.createDataFrame(pd.DataFrame({
        "line_id": [0], "x1": [WORLD.min_x + 0.2 * TD], "y1": [WORLD.min_y + 0.2 * TD],
        "x2": [WORLD.min_x + 1.7 * TD], "y2": [WORLD.min_y + 2.4 * TD]}))
    # densify 4 (per-line scalars, explode, vertex, dist) + the point
    # path's 4
    assert _added_projects(line_vertices_elevation(lines, images, pix_index_df=pix),
                           pix, lines) <= 8


@pytest.fixture()
def collected(spark, monkeypatch):
    """The DataFrames a request collects, so their executed plans can be
    inspected after the call."""
    seen: list[DataFrame] = []
    cls = type(spark.range(0))          # the session's DataFrame class
    collect = cls.collect

    def spy(self):
        seen.append(self)
        return collect(self)

    monkeypatch.setattr(cls, "collect", spy)
    return seen


def _assert_unsorted(df: DataFrame) -> None:
    plan = ex.explain_str(df)
    assert "Sort" not in plan and "rangepartitioning" not in plan.lower(), plan


def _multi_tile_line():
    # three tiles in x, three in y: several tile joins, seq order matters
    return [(WORLD.min_x + 0.3 * TD, WORLD.min_y + 0.4 * TD),
            (WORLD.min_x + 2.6 * TD, WORLD.min_y + 2.7 * TD)]


def _multi_tile_rect():
    return (WORLD.min_x + 0.7 * TD, WORLD.min_y + 0.8 * TD,
            WORLD.min_x + 1.4 * TD, WORLD.min_y + 1.3 * TD)


def test_line_request_plan_has_no_sort(svc, collected):
    (x1, y1), (x2, y2) = _multi_tile_line()
    svc.line({"type": "LineString", "coordinates": [[x1, y1], [x2, y2]]})
    assert len(collected) == 1
    _assert_unsorted(collected[0])


def test_polygon_request_plan_has_no_sort(svc, collected):
    x0, y0, x1, y1 = _multi_tile_rect()
    svc.polygon([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
    assert len(collected) == 1
    _assert_unsorted(collected[0])


def test_line_request_order_matches_seq(spark, svc, images):
    (x1, y1), (x2, y2) = _multi_tile_line()
    got = svc.line({"type": "LineString", "coordinates": [[x1, y1], [x2, y2]]})
    lines = spark.createDataFrame(pd.DataFrame(
        {"line_id": [0], "x1": [x1], "y1": [y1], "x2": [x2], "y2": [y2]}))
    v = line_vertices_elevation(lines, images).toPandas().sort_values("seq")
    assert v["image_id"].nunique() >= 3
    want = [[x, y, int(z)] for x, y, z in zip(v["x"], v["y"], v["z"])]
    assert got["geometry"]["coordinates"] == want


def test_polygon_request_order_matches_xy(spark, svc, images):
    x0, y0, x1, y1 = _multi_tile_rect()
    got = svc.polygon([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
    polys = _rect(spark, x0, y0, x1, y1)
    px = polygon_pixels(polys, images).toPandas()
    assert px["image_id"].nunique() >= 2
    want = polygon_elevation(polys, images).toPandas().sort_values(["x", "y"])
    assert got["geometry"] == [[x, y, int(z)] for x, y, z in
                               zip(want["x"], want["y"], want["z"])]


def test_color_invariants_with_large_arrow_batches(spark, images):
    polys = spark.createDataFrame(pd.DataFrame({
        "poly_id": [0, 1],
        "ring": [[{"lon": x, "lat": y} for x, y in ring] for ring in (
            [(WORLD.min_x + 0.1 * TD, WORLD.min_y + 0.1 * TD),
             (WORLD.min_x + 2.5 * TD, WORLD.min_y + 0.1 * TD),
             (WORLD.min_x + 2.5 * TD, WORLD.min_y + 1.9 * TD),
             (WORLD.min_x + 0.1 * TD, WORLD.min_y + 0.1 * TD)],
            [(WORLD.min_x + 1.2 * TD, WORLD.min_y + 1.2 * TD),
             (WORLD.min_x + 3.8 * TD, WORLD.min_y + 1.2 * TD),
             (WORLD.min_x + 3.8 * TD, WORLD.min_y + 3.7 * TD),
             (WORLD.min_x + 1.2 * TD, WORLD.min_y + 3.7 * TD),
             (WORLD.min_x + 1.2 * TD, WORLD.min_y + 1.2 * TD)])]}),
        schema=api.POLYGON_SCHEMA)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    cols = ["poly_id", "height_base", "area_px", "euler4", "euler8"]
    base = polygon_color_invariants(polys, images).toPandas()
    old = spark.conf.get(key)
    spark.conf.set(key, "131072")
    try:
        big = polygon_color_invariants(polys, images).toPandas()
    finally:
        spark.conf.set(key, old)
    assert len(base) > 2
    pd.testing.assert_frame_equal(
        big.sort_values(cols[:2]).reset_index(drop=True),
        base.sort_values(cols[:2]).reset_index(drop=True))


def test_invariants_kernel_takes_more_than_2_16_bands():
    """One Arrow batch of 70,000 band rows (what maxRecordsPerBatch=131072
    can deliver): every band is one horizontal run of its own length,
    so each band's area is that length and it has one shell, no hole."""
    from openelevationservice_spark.operators.color import (_SUB_GX_SHIFT,
                                                           _SUB_GY_SHIFT)

    n = 70_000
    lens = 1 + np.arange(n) % 7
    gy = np.arange(n, dtype=np.int64) % 4096
    gx = (np.arange(n, dtype=np.int64) // 4096) * 16
    subs = (gy << _SUB_GY_SHIFT) | (gx << _SUB_GX_SHIFT) | lens
    pdf = pd.DataFrame({
        "poly_id": np.arange(n, dtype=np.int64) // 23,
        "height_base": np.arange(n, dtype=np.int64) % 23,
        "subs": [[s.astype("<i8").tobytes()] for s in subs],
    })
    out = pd.concat(list(_invariants_partition(iter([pdf]))), ignore_index=True)
    assert len(out) == n
    assert (out["area_px"].to_numpy() == lens).all()
    assert (out["euler4"] == 1).all() and (out["euler8"] == 1).all()


def test_default_driver_memory_fits_the_host(monkeypatch):
    monkeypatch.delenv("OES_DRIVER_MEM", raising=False)
    mem = default_driver_memory()
    assert mem.endswith("m")
    phys_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 1024 <= int(mem[:-1]) <= max(phys_mib // 2, 1024)
    monkeypatch.setenv("OES_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"
