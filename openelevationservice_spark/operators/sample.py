"""Elevation gather kernel — the Spark replacement for ``ST_Value``.

``ST_Value(rast, geom)`` samples the pixel containing a point with no
interpolation (reference ``server/api/querybuilder.py:218,286``): pixel
index is ``ix = floor((x - ul_x)/px)``, ``iy = floor((ul_y - y)/px)``
from the upper-left origin.  The index arithmetic happens **JVM-side**
(plain Columns, see operators/point.py); this module only performs the
final grid gather, which needs the decoded image payload and therefore
runs in Arrow-vectorized pandas UDFs.

Two physical strategies (picked like a join strategy):

- ``broadcast`` — decode every tile once on the executors, collect the
  (small) decoded grids to the driver, broadcast the dict, and gather
  via ``mapInPandas`` with **zero shuffle**.  Right when the tile
  working set fits in memory (the reference's whole-planet SRTM is
  ~67 GB decoded; a queried region is far smaller).
- ``cogroup`` — shuffle-free of driver memory: semi-join-prune the
  images table to the touched tiles, then
  ``points.groupBy(image_id).cogroup(images.groupBy(image_id))``
  so each tile's bytes cross the wire **once** per task, not once per
  point row.  This is the 10^12-image path: both sides hash-partition
  on image_id, skew handled by AQE.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import image_codec


def _gather(grid: np.ndarray, ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    """grid[iy, ix] with out-of-range → NaN (float64 result)."""
    h, w = grid.shape
    ok = (ix >= 0) & (ix < w) & (iy >= 0) & (iy < h)
    out = np.full(len(ix), np.nan)
    if ok.any():
        out[ok] = grid[iy[ok], ix[ok]].astype(np.float64)
    return out


def _z_to_int32(vals: np.ndarray) -> pd.array:
    """float64-with-NaN → nullable Int32, fully vectorized (a per-row
    Python comprehension here ran once per output row in the kNN and
    streaming gathers)."""
    mask = np.isnan(vals)
    ints = np.where(mask, 0, vals).astype(np.int32)
    return pd.arrays.IntegerArray(ints, mask)


def broadcast_grids(images_df: DataFrame):
    """Decode every tile once (executor-side) and broadcast the grid dict.

    Build once per tile snapshot and pass to repeated queries via the
    operators' ``grids_bc`` parameter — a replay service would hold
    this for the life of the tile snapshot instead of re-collecting
    per query.
    """
    spark = images_df.sparkSession
    decoded = images_df.select("image_id", "bytes", "fmt", "w", "h").mapInPandas(
        _decode_batches, schema="image_id string, grid binary, w int, h int"
    ).collect()
    grids = {
        r["image_id"]: np.frombuffer(r["grid"], dtype="<i2").reshape(r["h"], r["w"])
        for r in decoded
    }
    return spark.sparkContext.broadcast(grids)


def gather_z_broadcast(df: DataFrame, images_df: DataFrame, z_col: str = "z",
                       grids_bc=None) -> DataFrame:
    """Broadcast-grid gather: no shuffle, one decode per tile.

    ``df`` must carry ``image_id, ix, iy``; all columns pass through.
    """
    bc = grids_bc if grids_bc is not None else broadcast_grids(images_df)
    out_schema = T.StructType(df.schema.fields + [T.StructField(z_col, T.IntegerType(), True)])

    def gather(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        g = bc.value
        for pdf in batches:
            z = np.full(len(pdf), np.nan)
            if len(pdf):
                for img, sub in pdf.groupby("image_id", sort=False):
                    grid = g.get(img)
                    if grid is None:
                        continue
                    z[sub.index.to_numpy()] = _gather(
                        grid, sub["ix"].to_numpy(np.int64), sub["iy"].to_numpy(np.int64)
                    )
            pdf = pdf.copy()
            pdf[z_col] = _z_to_int32(z)
            yield pdf

    return df.mapInPandas(gather, schema=out_schema)


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        grids = [
            image_codec.decode(b, f, int(w), int(h)).astype("<i2").tobytes()
            for b, f, w, h in zip(pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"])
        ]
        yield pd.DataFrame(
            {"image_id": pdf["image_id"], "grid": grids, "w": pdf["w"], "h": pdf["h"]}
        )


def gather_z_cogroup(df: DataFrame, images_df: DataFrame, z_col: str = "z") -> DataFrame:
    """Cogrouped gather: tile bytes shuffle once per tile, scale path."""
    # rename every image-side column: df may descend from images_df (the
    # tile index does), which would otherwise trip Spark's
    # ambiguous-self-join analysis on the semi-join and the cogroup
    touched = df.select(F.col("image_id").alias("touched_id")).distinct()
    imgs = images_df.select(
        F.col("image_id").alias("img_id"),
        F.col("bytes").alias("img_bytes"),
        F.col("fmt").alias("img_fmt"),
        F.col("w").alias("img_w"),
        F.col("h").alias("img_h"),
    )
    pruned = imgs.join(touched, imgs["img_id"] == touched["touched_id"], "left_semi")
    out_schema = T.StructType(df.schema.fields + [T.StructField(z_col, T.IntegerType(), True)])

    def sample(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        out = left.copy()
        if len(right) == 0 or len(left) == 0:
            out[z_col] = pd.array([None] * len(left), dtype="Int32")
            return out
        r = right.iloc[0]
        grid = image_codec.decode(r["img_bytes"], r["img_fmt"], int(r["img_w"]), int(r["img_h"]))
        z = _gather(grid, left["ix"].to_numpy(np.int64), left["iy"].to_numpy(np.int64))
        out[z_col] = _z_to_int32(z)
        return out

    return (
        df.groupBy("image_id")
        .cogroup(pruned.groupBy("img_id"))
        .applyInPandas(sample, schema=out_schema)
    )


def pixel_index(images_df: DataFrame) -> DataFrame:
    """Tile index + decoded pixels as a flat ``array<smallint>`` column.

    Decoding runs ONCE per tile (Arrow batches); downstream queries
    sample pixels entirely JVM-side via ``element_at`` inside the same
    whole-stage-codegen'd projection as the broadcast join — no Python
    and no Arrow transfer anywhere in the per-query hot path.
    """
    from ..sources.tiles import tile_index

    idx = tile_index(images_df, with_bytes=True)
    schema = T.StructType(
        [f for f in idx.schema.fields if f.name != "bytes"]
        + [T.StructField("pix", T.ArrayType(T.ShortType()), False)]
    )
    cols = [f.name for f in schema.fields]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["pix"] = [
                image_codec.decode(b, f, int(w), int(h)).ravel()
                for b, f, w, h in zip(pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"])
            ]
            yield pdf[cols]

    return idx.mapInPandas(decode, schema=schema)


def z_jvm_col(ix: Column | None = None, iy: Column | None = None) -> Column:
    """JVM pixel sample as a Column over rows carrying (pix, w, h) and
    the pixel indices — the ``ix``/``iy`` columns unless given as
    expressions.  Out-of-range / missing-tile rows get NULL (ANSI-safe:
    element_at is guarded)."""
    ix = F.col("ix") if ix is None else ix
    iy = F.col("iy") if iy is None else iy
    in_range = (
        F.col("pix").isNotNull()
        & (ix >= 0) & (ix < F.col("w"))
        & (iy >= 0) & (iy < F.col("h"))
    )
    z = F.when(
        in_range,
        F.element_at(F.col("pix"), (iy * F.col("w") + ix + 1).cast("int")),
    )
    return z.cast("int")


def gather_z_jvm(df: DataFrame, z_col: str = "z") -> DataFrame:
    """JVM pixel sample over a join that already carries ``pix``:
    adds ``z_col`` (see :func:`z_jvm_col`) and drops ``pix``."""
    return df.withColumn(z_col, z_jvm_col()).drop("pix")


def gather_z(df: DataFrame, images_df: DataFrame, z_col: str = "z",
             strategy: str = "broadcast", grids_bc=None) -> DataFrame:
    if strategy == "broadcast":
        return gather_z_broadcast(df, images_df, z_col, grids_bc=grids_bc)
    if strategy == "cogroup":
        return gather_z_cogroup(df, images_df, z_col)
    raise ValueError(f"unknown gather strategy {strategy!r}")
