"""Octree block store: its file-name format, the one committed
block-file listing every reader starts from, the windowed read
(SURVEY.md §2.A6/A4/A11) and the parquet layout rewrite (A7).

The store is the reference's own layout, ``{octree-path}/default.{ch}.tif``
(tiff2octree.py:298-317), written by the subtree kernel of
pipelines/octree.py and committed through sources/manifest.py.
:func:`tiff_block_rel` names a block's file and :func:`parse_block_rel`
is its inverse. :func:`block_files` lists a store's committed block
files once, on the driver, as parsed rows; channel discovery, the
metadata probe, the windowed read, and the KTX pass's work list and
source reclaim (pipelines/ktx.py) are all built on those rows, and a
kernel gets them as one local relation (:func:`block_frame`). The
build's resume (pipelines/octree.py) parses the manifest's committed
set (``manifest.committed_files``, the one reader every store shares)
once per build with the same :func:`parse_block_rel`. So windowed
reads and probes prune files on path-derived coordinates before any payload is
opened (the reference's windowed region read, tiff2octree.py:281-292),
and every read keeps only committed files.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

# a block file's store-relative path: octant digits, then the channel
_BLOCK_REL = re.compile(r"((?:[1-8]/)*)default\.(\d+)\.tif")


def rewrite_layout(
    df: DataFrame,
    root: str,
    sort_cols: list[str],
    rowgroup_bytes: int = 8 * 1024 * 1024,
) -> None:
    """A7: storage-layout rewrite for cheap windowed reads.

    The reference re-lays big untiled slices out as 256x256-tiled TIFF
    so window reads touch only the needed tiles
    (tiff2octree.py:516-551, 1026-1030). The parquet analog: sort by
    the access-path key (Morton/octree order) and bound row-group
    size, so a range predicate skips row groups via min/max stats —
    ``conv_tiled_tiff`` as config + sort, not code (§4 O7).
    """
    (
        df.sort(*sort_cols)
        .write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.block.size", str(rowgroup_bytes))
        .parquet(root)
    )


def tiff_block_rel(zi: int, yi: int, xi: int, channel: int, depth: int) -> str:
    """Store-relative path of a block file: ``{octree-path}/default.{ch}.tif``
    (``depth`` counts the root as 1, so the path has depth - 1 digits)."""
    from hortacloud_importer_spark.volume.geometry import octree_path_digits

    digits = octree_path_digits(zi, yi, xi, depth - 1)
    return "/".join([*map(str, digits), f"default.{channel}.tif"])


class BlockFile(NamedTuple):
    """One block file of a store: its store-relative path, block
    coordinates, depth (the digit count: the root is 0) and channel."""

    rel: str
    zi: int
    yi: int
    xi: int
    depth: int
    channel: int


def parse_block_rel(rel: str) -> BlockFile | None:
    """The block a store-relative path names, or None for any other
    file: the inverse of :func:`tiff_block_rel`, and the one place the
    name format is matched. Coordinates come from the octant digits,
    ``1 + x_bit + 2*y_bit + 4*z_bit`` per level, MSB first
    (tiff2octree.py:263-279)."""
    m = _BLOCK_REL.fullmatch(rel)
    if m is None:
        return None
    digits = [int(d) - 1 for d in m.group(1).split("/")[:-1]]
    zi = yi = xi = 0
    for d in digits:
        zi, yi, xi = 2 * zi + (d >> 2 & 1), 2 * yi + (d >> 1 & 1), 2 * xi + (d & 1)
    return BlockFile(rel, zi, yi, xi, len(digits), int(m.group(2)))


def block_files(root: str) -> list[BlockFile]:
    """The store's committed block files, sorted by path: ONE listing
    of ``root`` on the driver, kept to the files the manifest commits
    (a store without one — a foreign octree, e.g. the reference's own
    output — keeps them all) and parsed by :func:`parse_block_rel`. No
    payload is read and no Spark job runs, so a killed build's
    uncommitted leftover never surfaces as data, a phantom channel, a
    wrong extent or a wrong depth. The rows are as many as the store's
    files, like the paths the driver collects to commit them."""
    from pyarrow import fs as pafs

    from hortacloud_importer_spark.sources import manifest
    from hortacloud_importer_spark.sources.datasource import _pa_fs

    filesystem, base = _pa_fs(root)
    base = base.rstrip("/")
    infos = filesystem.get_file_info(pafs.FileSelector(base, recursive=True))
    rels = (
        i.path[len(base) + 1 :] for i in infos if i.type == pafs.FileType.File
    )
    committed = manifest.committed_files(filesystem, base)
    if committed is not None:
        rels = (rel for rel in rels if rel in committed)
    return sorted(f for f in map(parse_block_rel, rels) if f is not None)


def block_frame(spark: SparkSession, files: list[BlockFile]) -> DataFrame:
    """:func:`block_files` rows as a local DataFrame (one scan of a
    local relation, ``defaultParallelism`` partitions at most, no
    shuffle) for a kernel that opens each file by path."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(files, columns=BlockFile._fields),
        "rel string, zi int, yi int, xi int, depth int, channel int",
    )


def store_channels(root: str) -> list[int]:
    """Distinct channel ids of an octree block store, from the
    :func:`block_files` listing — no block payload is read and no
    Spark job runs."""
    return sorted({f.channel for f in block_files(root)})


def store_block_meta(root: str) -> tuple[tuple[int, int, int], int]:
    """(block extent zyx, deepest octree level) of an octree block
    store, for metadata cost: the depth comes from the
    :func:`block_files` listing (no payload read), and the extent from
    ONE file's TIFF header walk (``tiff_shape`` — no strip/tile
    decode). All blocks of a build_octree store share one extent by
    construction, so one header suffices; a full-store aggregate over
    decoded blocks would decode 100 TB to learn three ints."""
    from hortacloud_importer_spark.sources.datasource import _pa_fs
    from hortacloud_importer_spark.sources.tiff import tiff_shape

    files = block_files(root)
    if not files:
        raise FileNotFoundError(f"no .tif blocks under {root}")
    filesystem, base = _pa_fs(root)
    with filesystem.open_input_stream(f"{base.rstrip('/')}/{files[0].rel}") as fh:
        shape = tiff_shape(fh.read())
    return shape, max(f.depth for f in files)


def read_tiff_block_store(
    spark: SparkSession,
    root: str,
    window: tuple[tuple[int, int], tuple[int, int], tuple[int, int]] | None = None,
    block_dims: tuple[int, int, int] | None = None,
    depth: int | None = None,
) -> DataFrame:
    """Read an octree block store (the reference's layout,
    ``{digit}/{digit}/.../default.{ch}.tif``) back into blockify-shaped
    rows (zi, yi, xi, channel, depth, shape, voxels).

    The :func:`block_files` rows (committed files only; block
    coordinates from the octant digits of each PATH, so the store
    round-trips without a manifest) feed one ``mapInPandas`` over a
    local relation whose tasks open and decode their own files
    (sources/tiff.py). Payload bytes never visit the driver or an
    exchange.

    ``window`` = ((z0, z1), (y0, y1), (x0, x1)) half-open VOXEL bounds
    (requires ``block_dims``) restricts the read to blocks overlapping
    the region, and ``depth`` to one octree level — both filters
    evaluate on the driver's path-derived coordinates before any file
    is opened, so a small crop of a huge store decodes only the
    touched blocks (A4 windowed read, tiff2octree.py:281-292).
    """
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("zi", IntegerType()),
            StructField("yi", IntegerType()),
            StructField("xi", IntegerType()),
            StructField("channel", IntegerType()),
            # octree depth = digit count; a multi-level store keeps
            # every pyramid level in one tree (root block = depth 0),
            # so (depth, zi, yi, xi, channel) is the unique block key
            StructField("depth", IntegerType()),
            StructField("shape", ArrayType(IntegerType())),
            StructField("voxels", ArrayType(IntegerType())),
        ]
    )

    def decode(batches):
        import numpy as np
        import pandas as pd

        from hortacloud_importer_spark.sources.datasource import _pa_fs
        from hortacloud_importer_spark.sources.tiff import decode_tiff

        filesystem, base = _pa_fs(root)
        base = base.rstrip("/")
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                with filesystem.open_input_stream(f"{base}/{row.rel}") as fh:
                    arr = decode_tiff(fh.read())[..., 0]  # (z, h, w)
                out.append(
                    {
                        "zi": row.zi,
                        "yi": row.yi,
                        "xi": row.xi,
                        "channel": row.channel,
                        "depth": row.depth,
                        "shape": list(arr.shape),
                        "voxels": arr.astype(np.int32).ravel(),
                    }
                )
            yield pd.DataFrame(out)

    files = block_files(root)
    if depth is not None:
        files = [f for f in files if f.depth == depth]
    if window is not None:
        if block_dims is None or depth is None:
            # block extent is depth-relative: a voxel window only
            # names blocks at ONE level
            raise ValueError("window pruning requires block_dims and depth")
        files = [
            f for f in files
            if all(
                lo // b <= c <= (hi - 1) // b
                for c, (lo, hi), b in zip((f.zi, f.yi, f.xi), window, block_dims)
            )
        ]
    return block_frame(spark, files).mapInPandas(decode, out_schema)
