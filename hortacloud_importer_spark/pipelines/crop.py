"""Windowed sub-volume export: octree store -> TIFF slice directory.

The reference cuts windows out of its inputs to feed block generation
and the viewer (``get_cropped_image_n5_zarr`` tiff2octree.py:351-383,
``get_cropped_image_rasterio`` :281-292); this is the same read as a
user-facing export: crop a half-open voxel window from ONE octree
level of an octree block store into a slice directory
(``default.{ch}.{z}.tif``, window-local z) that the octree
subcommand/scan can ingest right back.

Scale shape: block files outside the window are pruned on
path-derived coordinates BEFORE any file is opened (the
sources/block_store.py::block_files rows); each decoded block is cut
into window-clipped Z-plane TILES in-executor (packed 2-D arrays, not
voxel rows); ONE shuffle regroups tiles by output slice; the assembly
kernel zero-fills a (dy, dx) canvas, places tiles, encodes, and
writes — so absent blocks (skip-empty stores drop all-zero blocks)
densify to zero with no grid join, and the shuffle moves payload
bytes only (no per-voxel coordinate columns). The driver only ever
sees per-slice accounting.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hortacloud_importer_spark.sources.block_store import (
    read_tiff_block_store,
    store_channels,
)

_Window = tuple[tuple[int, int], tuple[int, int], tuple[int, int]]


def crop_octree(
    spark: SparkSession,
    store_root: str,
    out_dir: str,
    window: _Window,
    depth: int,
    block_dims: tuple[int, int, int],
    dtype: str = "uint16",
    channels: int | None = None,
) -> DataFrame:
    """Export ``window`` = ((z0,z1), (y0,y1), (x0,x1)) of octree level
    ``depth`` as a slice directory. Returns per-slice accounting
    (z, channel, n_nonzero).

    ``channels`` (count) skips channel discovery; when omitted it is
    derived from the store's file NAMES (no payload decode). Every
    (slice, channel) in the window is written even when no block
    covers it (all-zero slice), matching a dense export."""
    (z0, z1), (y0, y1), (x0, x1) = window
    if not (z0 < z1 and y0 < y1 and x0 < x1):
        raise ValueError(f"empty window {window}")
    dz, dy, dx = z1 - z0, y1 - y0, x1 - x0

    blocks = read_tiff_block_store(
        spark, store_root, window=window, block_dims=block_dims, depth=depth
    )
    # actual channel IDS, not a 0..n-1 assumption: a store written
    # with non-contiguous ids (e.g. {0, 2}) must export those slices,
    # not a zero slice for a nonexistent id. An int `channels` keeps
    # the dense 0..n-1 contract for callers that know their layout.
    if channels:
        channel_ids = list(range(channels))
    else:
        channel_ids = store_channels(store_root) or [0]

    tile_schema = (
        "z int, channel int, y_off int, x_off int,"
        " h int, w int, tile binary"
    )

    def cut_tiles(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                bz, by, bx = (int(s) for s in row.shape)
                arr = np.asarray(row.voxels, dtype=np.int32).reshape(
                    bz, by, bx
                )
                gz, gy, gx = (
                    int(row.zi) * bz,
                    int(row.yi) * by,
                    int(row.xi) * bx,
                )
                # window clip in block-local coordinates
                ly0, ly1 = max(y0 - gy, 0), min(y1 - gy, by)
                lx0, lx1 = max(x0 - gx, 0), min(x1 - gx, bx)
                if ly0 >= ly1 or lx0 >= lx1:
                    continue
                for lz in range(max(z0 - gz, 0), min(z1 - gz, bz)):
                    tile = arr[lz, ly0:ly1, lx0:lx1]
                    out.append(
                        {
                            "z": gz + lz - z0,
                            "channel": int(row.channel),
                            "y_off": gy + ly0 - y0,
                            "x_off": gx + lx0 - x0,
                            "h": ly1 - ly0,
                            "w": lx1 - lx0,
                            # raw uint16 bytes: store payloads are
                            # uint8/uint16 on disk, so this is
                            # lossless and halves the tile shuffle
                            "tile": tile.astype("<u2").tobytes(),
                        }
                    )
            yield pd.DataFrame(out)

    tiles = blocks.mapInPandas(cut_tiles, tile_schema)
    return _assemble_slices(
        spark, tiles, dz, dy, dx, channel_ids, out_dir, dtype
    )


def _assemble_slices(
    spark: SparkSession,
    tiles: DataFrame,
    dz: int,
    dy: int,
    dx: int,
    channel_ids: list[int],
    out_dir: str,
    dtype: str,
    fill: int = 0,
) -> DataFrame:
    """Window-local Z-plane tiles -> one TIFF slice per (z, channel),
    assembled and written in-executor (shared by the octree and
    chunk-store crops)."""
    # full (z, channel) grid so empty slices still export as zeros
    # (skip-empty stores drop all-zero blocks); dz*channels rows only
    grid = spark.range(dz).select(F.col("id").cast("int").alias("z")).crossJoin(
        spark.createDataFrame(
            [(int(c),) for c in channel_ids], "channel int"
        )
    )
    keyed = grid.join(tiles, ["z", "channel"], "left")

    out_schema = "z int, channel int, n_nonzero long"

    def assemble(key, pdf):
        import numpy as np
        import pandas as pd

        from hortacloud_importer_spark.sources import manifest as _m
        from hortacloud_importer_spark.sources.datasource import _pa_fs
        from hortacloud_importer_spark.sources.tiff import encode_tiff

        z, ch = int(key[0]), int(key[1])
        page = np.full((dy, dx), fill, dtype=np.int32)
        for row in pdf.itertuples():
            if row.tile is None:
                continue
            yo, xo, h, w = (
                int(row.y_off),
                int(row.x_off),
                int(row.h),
                int(row.w),
            )
            page[yo : yo + h, xo : xo + w] = np.frombuffer(
                row.tile, dtype="<u2"
            ).reshape(h, w)
        filesystem, base = _pa_fs(out_dir)
        filesystem.create_dir(base, recursive=True)
        # cast FIRST so the accounting matches the bytes written: a
        # value that wraps/clips in the output dtype (256 -> 0 in
        # uint8) must not count as nonzero
        cast = page.astype(np.dtype(dtype))
        path = f"{base}/default.{ch}.{z:05d}.tif"
        with _m.staged_output(filesystem, path) as fh:
            fh.write(encode_tiff(cast[None, ...]))
        return pd.DataFrame(
            [
                {
                    "z": z,
                    "channel": ch,
                    "n_nonzero": int(np.count_nonzero(cast)),
                }
            ]
        )

    return keyed.groupBy("z", "channel").applyInPandas(assemble, out_schema)


def crop_chunk_store(
    spark: SparkSession,
    root: str,
    out_dir: str,
    window: _Window,
    dtype: str = "uint16",
) -> DataFrame:
    """Window export straight from an N5 / Zarr v2 / Zarr v3 chunk
    store — the reference's ``get_cropped_image_n5_zarr``
    (tiff2octree.py:351-383) as a distributed slice-directory export.

    Same scale shape as :func:`crop_octree`: the store is opened and
    listed once on the driver (sources/n5.py::chunk_store), chunks
    outside the window are pruned on their grid cells (the driver sees
    paths only, never payloads), each surviving chunk is read by path
    and cut into window-clipped Z-plane tiles in-executor, and one
    packed-tile shuffle regroups by output slice. Never-written chunks
    are the canvas fill. A chunk that fails to decode fails the tile
    cut, before any slice is written."""
    from hortacloud_importer_spark.sources.listing import _chunk_items
    from hortacloud_importer_spark.sources.n5 import ChunkStoreError, chunk_store

    (z0, z1), (y0, y1), (x0, x1) = window
    if not (z0 < z1 and y0 < y1 and x0 < x1):
        raise ValueError(f"empty window {window}")
    dz, dy, dx = z1 - z0, y1 - y0, x1 - x0
    store = chunk_store(root)
    # the export format is uint8/uint16 TIFF slices and tiles pack as
    # little-endian uint16 — gate anything wider/signed/float rather
    # than silently wrapping it (the octree-crop cast is safe only
    # because block stores are uint8/uint16 on disk by construction)
    if store.dtype.kind != "u" or store.dtype.itemsize > 2:
        raise ChunkStoreError(
            f"crop export supports unsigned <=16-bit chunk stores; "
            f"this store is {store.dtype.name}"
        )
    fill = store.fill
    if not 0 <= fill <= int(np.iinfo(store.dtype).max):
        raise ChunkStoreError(
            f"unsupported fill_value {fill!r} for a "
            f"{store.dtype.name} slice export"
        )
    cz, cy, cx = store.chunks

    # driver-side listing + grid pruning (paths only, the A4 shape)
    overlapping = _chunk_items(store)((z0, y0, x0), (z1, y1, x1))
    work = [key for key in overlapping if key[0] is not None]
    chunks_df = spark.createDataFrame(
        work or [("", -1, -1, -1)],
        "rel string, gz int, gy int, gx int",
    ).filter(F.col("gz") >= 0)
    chunks_df = chunks_df.repartition(spark.sparkContext.defaultParallelism)

    tile_schema = (
        "z int, channel int, y_off int, x_off int,"
        " h int, w int, tile binary"
    )

    def cut(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                key = (row.rel, int(row.gz), int(row.gy), int(row.gx))
                arr = store.read(key)
                oz, oy, ox = key[1] * cz, key[2] * cy, key[3] * cx
                # clip to the window, in chunk-local coordinates
                bz_, by_, bx_ = arr.shape
                ly0, ly1 = max(y0 - oy, 0), min(y1 - oy, by_)
                lx0, lx1 = max(x0 - ox, 0), min(x1 - ox, bx_)
                if ly0 >= ly1 or lx0 >= lx1:
                    continue
                for lz in range(max(z0 - oz, 0), min(z1 - oz, bz_)):
                    tile = arr[lz, ly0:ly1, lx0:lx1]
                    # skip-empty only when the canvas default IS zero:
                    # with a nonzero fill_value a stored all-zero tile
                    # must still overwrite the fill on the canvas
                    if fill == 0 and not tile.any():
                        continue
                    out.append(
                        {
                            "z": oz + lz - z0,
                            "channel": 0,
                            "y_off": oy + ly0 - y0,
                            "x_off": ox + lx0 - x0,
                            "h": ly1 - ly0,
                            "w": lx1 - lx0,
                            "tile": tile.astype("<u2").tobytes(),
                        }
                    )
            yield pd.DataFrame(out)

    tiles = chunks_df.mapInPandas(cut, tile_schema)
    return _assemble_slices(
        spark, tiles, dz, dy, dx, [0], out_dir, dtype, fill=fill
    )
