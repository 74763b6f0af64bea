"""Point elevation — Spark re-expression of the reference's point query.

Reference shape (``server/api/querybuilder.py:257-313``)::

    points2d → JOIN oes_cgiar ON ST_Intersects(rast, geom) LIMIT 1
             → ST_Value(rast, geom) → MakePoint(x, y, coalesce(z, -32768))

Spark plan (all index arithmetic JVM-side, whole-stage codegen):

    points ─ cell_id = f(lon, lat)            (Column arithmetic)
           ─ equi-join tile index on cell_id  (broadcast | shuffle)
           ─ ix/iy pixel indices              (Column arithmetic)
           ─ gather z from decoded grid       (Arrow pandas UDF)
           ─ coalesce(z, -32768)

The equi-join is *exact*, not approximate: tiles partition the plane at
pixel-aligned half-open 50x50 boundaries, so an interior point matches
exactly one tile; the reference's ``LIMIT 1`` (which papers over
double-intersects on seams) is replaced by deterministic half-open
assignment.  Out-of-coverage points get no row under ``how='inner'``
(the reference then raises 404 4002) or a NULL image under
``how='left'`` (bulk replay mode).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import NODATA
from ..functions.cells import cell_id_col
from ..sources.tiles import tile_index
from .sample import gather_z, pixel_index, z_jvm_col


def pixel_index_cols(lon: str = "lon", lat: str = "lat") -> dict[str, Column]:
    """ix/iy = ST_Value's floor pixel-index arithmetic, as Columns."""
    return {
        "ix": F.floor((F.col(lon) - F.col("ul_x")) / F.col("px")).cast("int"),
        "iy": F.floor((F.col("ul_y") - F.col(lat)) / F.col("px")).cast("int"),
    }


def elevation_z(z: Column) -> Column:
    """Output z: NODATA-coalesced for rows that hit a tile (the
    reference's ``coalesce(ST_Value(...), -32768)``), NULL for rows that
    hit none."""
    return F.when(F.col("image_id").isNotNull(),
                  F.coalesce(z, F.lit(NODATA))).otherwise(F.lit(None)).cast("int")


#: columns sample_joined adds to a tile join's row
SAMPLED = ("image_id", "ix", "iy", "z")


def sample_joined(joined: DataFrame, out: list[str], lon: str, lat: str,
                  gather_strategy: str, images_df: DataFrame,
                  grids_bc=None) -> DataFrame:
    """Pixel indices + z gather + output z over a tile join, returning
    the columns ``out`` names: the caller's columns and :data:`SAMPLED`.

    The JVM gather is ONE projection: the ix/iy expressions feed both
    their output columns and the z sample.  They are a few double ops,
    so evaluating them again inside the sample costs less per row than
    another projection costs per call."""
    pix = pixel_index_cols(lon, lat)
    if gather_strategy == "jvm":
        cols = {**{n: c.alias(n) for n, c in pix.items()},
                "z": elevation_z(z_jvm_col(pix["ix"], pix["iy"])).alias("z")}
        return joined.select(*(cols.get(c, c) for c in out))
    # prune tile metadata before the Arrow boundary — the gather only
    # needs (image_id, ix, iy) plus the caller's columns
    keep = [c for c in out if c not in SAMPLED]
    j = joined.select(*keep, "image_id", *(c.alias(n) for n, c in pix.items()))
    g = gather_z(j, images_df, strategy=gather_strategy, grids_bc=grids_bc)
    return g.select(*(elevation_z(F.col("z")).alias("z") if c == "z" else c
                      for c in out))


def join_tiles(points_df: DataFrame, index_df: DataFrame, how: str = "inner",
               index_strategy: str = "broadcast",
               lon: str = "lon", lat: str = "lat",
               extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """points × tile-index equi-join on cell_id (J1 in SURVEY.md §2.3)."""
    pts = points_df.withColumn("cell_id", cell_id_col(F.col(lon), F.col(lat)))
    idx = index_df.select("cell_id", "image_id", "ul_x", "ul_y", "px", "w", "h",
                          *extra_cols)
    if index_strategy == "broadcast":
        idx = F.broadcast(idx)
    elif index_strategy != "shuffle":
        raise ValueError(f"unknown index strategy {index_strategy!r}")
    return pts.join(idx, "cell_id", how)


def point_elevation(points_df: DataFrame, images_df: DataFrame,
                    how: str = "inner",
                    index_strategy: str = "broadcast",
                    gather_strategy: str = "jvm",
                    lon: str = "lon", lat: str = "lat",
                    grids_bc=None, pix_index_df: DataFrame | None = None) -> DataFrame:
    """points (…, lon, lat) → (…, image_id, ix, iy, z).

    ``z`` is coalesced to NODATA (−32768) exactly like the reference's
    ``coalesce(ST_Value(...), -32768)`` (``querybuilder.py:296``) for
    points that hit a tile; points that hit no tile keep NULL z under
    ``how='left'`` (they are absent under ``how='inner'``).

    gather strategies: ``jvm`` (default — decoded pixel arrays ride the
    broadcast index, sampling is a codegen'd ``element_at``; no Python
    in the hot path), ``broadcast`` (Arrow gather against a broadcast
    grid dict), ``cogroup`` (the 10^12-image shuffle path).  Pass a
    persisted ``pix_index_df`` (operators.sample.pixel_index) to reuse
    decode work across queries.
    """
    if gather_strategy == "jvm":
        idx = pix_index_df if pix_index_df is not None else pixel_index(images_df)
        extra = ("pix",)
    else:
        idx = tile_index(images_df)
        extra = ()
    j = join_tiles(points_df, idx, how=how, index_strategy=index_strategy,
                   lon=lon, lat=lat, extra_cols=extra)
    return sample_joined(j, [*points_df.columns, *SAMPLED], lon, lat,
                         gather_strategy, images_df, grids_bc=grids_bc)
