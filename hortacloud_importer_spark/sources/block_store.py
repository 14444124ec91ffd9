"""Octree block store: its file-name format, the one committed
block-file listing every reader starts from, the windowed read
(SURVEY.md §2.A6/A4/A11) and the parquet layout rewrite (A7).

The store is the reference's own layout, ``{octree-path}/default.{ch}.tif``
(tiff2octree.py:298-317), written by the subtree kernel of
pipelines/octree.py and committed through sources/manifest.py.
:func:`tiff_block_rel` names a block's file and :func:`parse_block_rels`
is its Catalyst inverse. :func:`block_files` lists a store's committed
block files as path-only rows; channel discovery, the metadata probe,
the windowed read, and the KTX pass's work list and source reclaim
(pipelines/ktx.py) are all built on it. So windowed reads and probes
prune files on path-derived coordinates before any payload is opened
(the reference's windowed region read, tiff2octree.py:281-292), and
every read keeps only committed files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# a block file's store-relative path: octant digits, then the channel
_BLOCK_REL = r"^(?:[1-8]/)*default\.(\d+)\.tif$"


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


def parse_block_rels(df: DataFrame) -> DataFrame:
    """The rows of ``df`` whose ``rel`` (a store-relative path) names a
    block file, as (rel, zi, yi, xi, depth, channel): depth is the
    digit count (the root is 0) and the coordinates come from the
    octant digits, ``1 + x_bit + 2*y_bit + 4*z_bit`` per level, MSB
    first (tiff2octree.py:263-279) — the inverse of
    :func:`tiff_block_rel`. Any other file is dropped here, the one
    place the name format is matched."""
    rel = F.col("rel")
    parts = F.split(rel, "/")
    digits = F.slice(parts, 1, F.size(parts) - 1)

    def axis(shift: int):
        return F.aggregate(
            digits,
            F.lit(0),
            lambda acc, d: acc * 2
            + F.shiftright(d.cast("int") - 1, shift).bitwiseAND(F.lit(1)),
        )

    return df.filter(rel.rlike(_BLOCK_REL)).select(
        rel,
        axis(2).alias("zi"),
        axis(1).alias("yi"),
        axis(0).alias("xi"),
        (F.size(parts) - 1).alias("depth"),
        F.regexp_extract(rel, _BLOCK_REL, 1).cast("int").alias("channel"),
    )


def block_files(spark: SparkSession, root: str) -> DataFrame:
    """The store's committed block files as path-only rows
    (rel, zi, yi, xi, depth, channel): a ``binaryFile`` listing that
    projects ``path`` alone, kept to the files the manifest commits (a
    store without one — a foreign octree, e.g. the reference's own
    output — keeps them all), parsed by :func:`parse_block_rels`. No
    payload is read, so the commit semi-join shuffles only paths at
    any manifest size, and a killed build's uncommitted leftover never
    surfaces as data, a phantom channel, a wrong extent or a wrong
    depth."""
    from hortacloud_importer_spark.sources import manifest

    files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.tif")
        .load(root)
        .select("path")
    )
    committed = manifest.committed_files_df(spark, root)
    if committed is not None:
        files = manifest.committed_only(files, committed, root, F.col("path"))
    return parse_block_rels(
        files.select(manifest.relative_path(F.col("path"), root).alias("rel"))
    )


def store_channels(spark: SparkSession, root: str) -> list[int]:
    """Distinct channel ids of an octree block store, from the
    :func:`block_files` listing — no block payload is read, so channel
    discovery over a 100 TB store is a listing-sized job. The result
    (a handful of ints) is driver-safe by construction."""
    ids = block_files(spark, root).select("channel").distinct()
    return sorted(r["channel"] for r in ids.collect())


def store_block_meta(
    spark: SparkSession, root: str
) -> tuple[tuple[int, int, int], int]:
    """(block extent zyx, deepest octree level) of an octree block
    store, for metadata cost: the depth comes from the
    :func:`block_files` listing (no payload read), and the extent from
    ONE file's TIFF header walk (``tiff_shape`` — no strip/tile
    decode). All blocks of a build_octree store share one extent by
    construction, so one header suffices; a full-store aggregate over
    decoded blocks would decode 100 TB to learn three ints."""
    from hortacloud_importer_spark.sources.datasource import _pa_fs
    from hortacloud_importer_spark.sources.tiff import tiff_shape

    row = block_files(spark, root).agg(
        F.max("depth").alias("max_depth"), F.min("rel").alias("probe")
    ).first()
    if row is None or row["probe"] is None:
        raise FileNotFoundError(f"no .tif blocks under {root}")
    filesystem, base = _pa_fs(root)
    with filesystem.open_input_stream(f"{base.rstrip('/')}/{row['probe']}") as fh:
        shape = tiff_shape(fh.read())
    return shape, int(row["max_depth"])


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
    round-trips without a manifest) feed one ``mapInPandas`` whose
    tasks open and decode their own files (sources/tiff.py). Payload
    bytes never visit the driver or an exchange.

    ``window`` = ((z0, z1), (y0, y1), (x0, x1)) half-open VOXEL bounds
    (requires ``block_dims``) restricts the read to blocks overlapping
    the region, and ``depth`` to one octree level — both filters
    evaluate on path-derived coordinates BEFORE any file is opened, so
    a small crop of a huge store decodes only the touched blocks (A4
    windowed read, tiff2octree.py:281-292).
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

    files = block_files(spark, root)
    if depth is not None:
        files = files.filter(F.col("depth") == depth)
    if window is not None:
        if block_dims is None or depth is None:
            # block extent is depth-relative: a voxel window only
            # names blocks at ONE level
            raise ValueError("window pruning requires block_dims and depth")
        for col, (lo, hi), b in zip(("zi", "yi", "xi"), window, block_dims):
            files = files.filter(
                (F.col(col) >= lo // b) & (F.col(col) <= (hi - 1) // b)
            )
    return files.mapInPandas(decode, out_schema)
