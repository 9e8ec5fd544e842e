"""Raster sources: functional raster, broadcast ndarray, parquet tile table.

The reference reads whole GeoTIFFs into one resident ndarray
(extract_raster_buffer.py:150-172, ~3.9 GB at 100 M px, README.md:88-92).
Our scale-path representation is a *tile table*:

    (tile_id:long, row0:int, col0:int, h:int, w:int, data:array<double>)

tile_id = (row0/tile_px) * 2^32 + (col0/tile_px). Tiles are what a COG reader
would emit from ``spark.read.format("binaryFile")`` + windowed decode in
``mapInArrow``; here they are generated deterministically from the synthetic
raster formula (geo_synth.raster_value_np) so tests need no GDAL.

The helpers here and the GeoTIFF scan build tile rows through
``tile_batches``; Arrow kernels (GeoTIFF sink, tiled zonal) read them
through ``tile_blocks``. Pixels cross the Python/Arrow boundary as flat
float64 buffers, never as one Python float each.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..geo_synth import RASTER_H, RASTER_W, raster_value_np

TILE_SCHEMA = T.StructType([
    T.StructField("tile_id", T.LongType(), False),
    T.StructField("row0", T.IntegerType(), False),
    T.StructField("col0", T.IntegerType(), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("data", T.ArrayType(T.DoubleType()), False),
])
TILE_ARROW_SCHEMA = to_arrow_schema(TILE_SCHEMA)

# pixels per tile batch: 128 MB of doubles, far inside int32 list offsets
_BATCH_PX = 1 << 24


def tile_id_of(trow: int, tcol: int) -> int:
    return trow * (1 << 32) + tcol


def _tile_batch(meta: list, blocks: list) -> pa.RecordBatch:
    tid, r0, c0, h, w = (np.array(c) for c in zip(*meta))
    offsets = np.zeros(len(blocks) + 1, dtype=np.int32)
    np.cumsum([b.size for b in blocks], out=offsets[1:])
    data = pa.ListArray.from_arrays(
        offsets, np.concatenate(blocks).astype(np.float64, copy=False),
        type=TILE_ARROW_SCHEMA.field("data").type)
    return pa.RecordBatch.from_arrays(
        [pa.array(tid, pa.int64()), pa.array(r0, pa.int32()),
         pa.array(c0, pa.int32()), pa.array(h, pa.int32()),
         pa.array(w, pa.int32()), data], schema=TILE_ARROW_SCHEMA)


def tile_batches(tiles: Iterable[tuple[int, int, int, np.ndarray]]
                 ) -> Iterator[pa.RecordBatch]:
    """``(tile_id, row0, col0, block)`` → Arrow batches in ``TILE_SCHEMA``.

    Used on executors (``mapInArrow``) and on the driver alike: each
    batch's pixels go to Arrow as one flat float64 buffer under int32 list
    offsets, so no pixel becomes a Python object. NaN stays NaN (never an
    Arrow null)."""
    meta, blocks, npx = [], [], 0
    for tid, r0, c0, blk in tiles:
        meta.append((tid, r0, c0, blk.shape[0], blk.shape[1]))
        blocks.append(blk.ravel())
        npx += blk.size
        if npx >= _BATCH_PX:
            yield _tile_batch(meta, blocks)
            meta, blocks, npx = [], [], 0
    if meta:
        yield _tile_batch(meta, blocks)


def tile_blocks(batch: pa.RecordBatch | pa.Table
                ) -> Iterator[tuple[int, int, int, np.ndarray]]:
    """Inverse of ``tile_batches``: ``(tile_id, row0, col0, block)`` per
    row, each block a (h, w) float64 view of the batch's values. Arrow
    nulls inside ``data`` (tile tables built through pandas carry NaN that
    way) read as NaN."""
    if isinstance(batch, pa.Table):
        for b in batch.to_batches():
            yield from tile_blocks(b)
        return
    tid, r0, c0, h, w = (batch.column(n).to_numpy()
                         for n in ("tile_id", "row0", "col0", "h", "w"))
    data = batch.column("data")
    offs = data.offsets.to_numpy()
    flat = data.values.to_numpy(zero_copy_only=False)
    for i in range(len(batch)):
        yield (int(tid[i]), int(r0[i]), int(c0[i]),
               flat[offs[i]:offs[i + 1]].reshape(int(h[i]), int(w[i])))


def synthetic_tile_table(spark: SparkSession, tile_px: int = 256,
                         height: int = RASTER_H, width: int = RASTER_W,
                         ) -> DataFrame:
    """Distributed generation: one row per tile, pixel decode inside an Arrow
    kernel on executors (never materialized on the driver)."""
    ntr = (height + tile_px - 1) // tile_px
    ntc = (width + tile_px - 1) // tile_px
    idx = spark.range(ntr * ntc).select(
        (F.col("id") / ntc).cast("int").alias("trow"),
        (F.col("id") % ntc).cast("int").alias("tcol"))

    def _tile(trow: int, tcol: int):
        r0, c0 = trow * tile_px, tcol * tile_px
        rr, cc = np.meshgrid(np.arange(r0, min(r0 + tile_px, height)),
                             np.arange(c0, min(c0 + tile_px, width)),
                             indexing="ij")
        return tile_id_of(trow, tcol), r0, c0, raster_value_np(rr, cc)

    def _gen(batches):
        for b in batches:
            yield from tile_batches(
                _tile(int(tr), int(tc)) for tr, tc in
                zip(b.column("trow").to_numpy(), b.column("tcol").to_numpy()))

    return idx.mapInArrow(_gen, TILE_SCHEMA)


def tile_table_from_array(spark: SparkSession, arr: np.ndarray,
                          tile_px: int = 256) -> DataFrame:
    """Tile table from an in-memory ndarray (tests / small rasters).
    NaN = nodata, as everywhere else."""
    h, w = arr.shape
    tiles = ((tile_id_of(tr, tc), tr * tile_px, tc * tile_px,
              arr[tr * tile_px:(tr + 1) * tile_px,
                  tc * tile_px:(tc + 1) * tile_px])
             for tr in range((h + tile_px - 1) // tile_px)
             for tc in range((w + tile_px - 1) // tile_px))
    table = pa.Table.from_batches(list(tile_batches(tiles)),
                                  schema=TILE_ARROW_SCHEMA)
    return spark.createDataFrame(table, TILE_SCHEMA)


def tile_table_to_array(tiles: DataFrame,
                        max_px: int = 256_000_000) -> np.ndarray:
    """Assemble a tile table into one dense ndarray (inverse of
    ``tile_table_from_array``). Driver-side by design — only valid in the
    planner's *broadcast* regime where the raster fits one executor; the
    ``max_px`` guard refuses anything larger so a mis-routed 100 TB tile
    table fails fast instead of OOMing the driver."""
    table = tiles.select(*TILE_SCHEMA.names).toArrow()
    if table.num_rows == 0:
        return np.full((0, 0), np.nan)
    r0, c0, th, tw = (table.column(n).to_numpy()
                      for n in ("row0", "col0", "h", "w"))
    height = int((r0.astype(np.int64) + th).max())
    width = int((c0.astype(np.int64) + tw).max())
    if height * width > max_px:
        raise ValueError(
            f"tile table is {height}x{width} px > max_px={max_px}; "
            "use the tiled/convolve_all strategy for rasters this large")
    arr = np.full((height, width), np.nan)
    for _, row0, col0, blk in tile_blocks(table):
        arr[row0:row0 + blk.shape[0], col0:col0 + blk.shape[1]] = blk
    return arr


def materialize_raster(height: int, width: int) -> np.ndarray:
    """Driver-side dense ndarray of the synthetic raster (test oracle /
    broadcast-raster path)."""
    rr, cc = np.meshgrid(np.arange(height), np.arange(width), indexing="ij")
    return raster_value_np(rr, cc)
