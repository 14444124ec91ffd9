"""Octree block store reads (SURVEY.md §2.A6/A4/A11) and the parquet
layout rewrite (A7).

The store is the reference's own layout, ``{octree-path}/default.{ch}.tif``
(tiff2octree.py:298-317), written by the subtree kernel of
pipelines/octree.py and committed through sources/manifest.py. Reads
here recover block coordinates from the octant digits of each file's
PATH, so windowed reads and metadata probes prune files before any
payload decode (the reference's windowed region read,
tiff2octree.py:281-292), and every read keeps only committed files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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


def store_channels(spark: SparkSession, root: str) -> list[int]:
    """Distinct channel ids of an octree block store, from file
    NAMES only (``default.{ch}.tif``): the binaryFile scan projects
    just ``path``, so no block payload is read or decoded — channel
    discovery over a 100 TB store is a listing-sized job. The result
    (a handful of ints) is driver-safe by construction."""
    files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.tif")
        .load(root)
        .select("path")
    )
    files = _committed_only(spark, files, root)
    ids = (
        files.select(
            F.regexp_extract("path", r"default\.(\d+)\.tif$", 1).alias("ch")
        )
        .filter(F.col("ch") != "")
        .distinct()
    )
    return sorted(int(r["ch"]) for r in ids.collect())


def _committed_only(spark: SparkSession, files: DataFrame, root: str) -> DataFrame:
    """A ``path`` listing restricted to the store's committed files; a
    manifest-less (foreign) store keeps every file. Every metadata
    probe applies it like the data read does, or a killed build's
    stray file could surface as a phantom channel, wrong extent or
    wrong depth."""
    from hortacloud_importer_spark.sources import manifest

    committed = manifest.committed_files_df(spark, root)
    if committed is None:
        return files
    return manifest.committed_only(files, committed, root, F.col("path"))


def store_block_meta(
    spark: SparkSession, root: str
) -> tuple[tuple[int, int, int], int]:
    """(block extent zyx, deepest octree level) of an octree block
    store, for metadata cost: the depth comes from the path listing
    (octant-digit count — no payload read), and the extent from ONE
    file's TIFF header walk (``tiff_shape`` — no strip/tile decode).
    All blocks of a build_octree store share one extent by
    construction, so one header suffices; a full-store aggregate over
    decoded blocks would decode 100 TB to learn three ints."""
    from hortacloud_importer_spark.sources.tiff import tiff_shape

    files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.tif")
        .load(root)
        .select("path")
    )
    # same committed-manifest filter the data read applies: an
    # uncommitted leftover from a killed build must not become the
    # probe file (truncated header) or skew max-depth (stale dims)
    files = _committed_only(spark, files, root)
    _, _, _, depth_c = path_block_coords(root)
    row = files.select("path", depth_c).agg(
        F.max("_depth").alias("max_depth"), F.min("path").alias("probe")
    ).first()
    if row is None or row["probe"] is None:
        raise FileNotFoundError(f"no .tif blocks under {root}")
    from hortacloud_importer_spark.sources.datasource import _pa_fs

    # re-root the probe path: Spark reports file:/... URIs, pyarrow
    # wants the filesystem-local form — the relative part is
    # scheme-independent
    rel = row["probe"].split(f"{root.rstrip('/')}/", 1)[-1]
    filesystem, base = _pa_fs(root)
    with filesystem.open_input_stream(f"{base.rstrip('/')}/{rel}") as fh:
        shape = tiff_shape(fh.read())
    return shape, int(row["max_depth"])


def path_block_coords(root: str):
    """(zi, yi, xi, depth) Catalyst columns derived from a store file
    PATH's octant digits — the same bit walk the decoder does in
    Python, but evaluable BEFORE any payload decode, which is what
    makes windowed reads prune files instead of decoding then
    discarding (A4; the reference's windowed region read,
    tiff2octree.py:281-292)."""
    import re as _re

    return rel_block_coords(
        F.element_at(F.split("path", _re.escape(f"{root.rstrip('/')}/")), -1)
    )


def rel_block_coords(rel):
    """(zi, yi, xi, depth) Catalyst columns of a store-relative block
    path ``{digit}/.../default.{ch}.tif`` (depth = digit count)."""
    parts = F.split(rel, "/")
    digits = F.slice(parts, 1, F.size(parts) - 1)

    def axis(shift: int):
        return F.aggregate(
            digits,
            F.lit(0),
            lambda acc, d: acc * 2
            + F.shiftright(d.cast("int") - 1, shift).bitwiseAND(F.lit(1)),
        )

    return (
        axis(2).alias("_zi"),
        axis(1).alias("_yi"),
        axis(0).alias("_xi"),
        (F.size(parts) - 1).alias("_depth"),
    )


def read_tiff_block_store(
    spark: SparkSession,
    root: str,
    window: tuple[tuple[int, int], tuple[int, int], tuple[int, int]] | None = None,
    block_dims: tuple[int, int, int] | None = None,
    depth: int | None = None,
) -> DataFrame:
    """Read an octree block store (the reference's layout,
    ``{digit}/{digit}/.../default.{ch}.tif``) back into blockify-shaped
    rows (zi, yi, xi, channel, shape, voxels).

    binaryFile scan -> executor-side clean-room decode
    (sources/tiff.py); block coordinates are recovered from the octant
    digits in the PATH (``1 + x_bit + 2*y_bit + 4*z_bit`` per level,
    MSB first — tiff2octree.py:263-279), so the store round-trips
    without a manifest. Payload bytes never visit the driver.

    ``window`` = ((z0, z1), (y0, y1), (x0, x1)) half-open VOXEL bounds
    (requires ``block_dims``) restricts the read to blocks overlapping
    the region, and ``depth`` to one octree level — both filters
    evaluate on path-derived coordinates BEFORE the decode, so a small
    crop of a huge store decodes only the touched blocks (A4 windowed
    read, tiff2octree.py:281-292).

    When the store HAS a manifest (sources/manifest.py shards or the
    legacy ``_MANIFEST.json``), the scan is restricted to the
    committed file set (manifest.committed_only) — a killed build can
    leave uncommitted ``.tif`` leftovers (object stores write final
    names directly) that must not be read back as data. Manifest-less
    stores (foreign octrees, e.g. the reference's own output) fall
    back to the full glob.
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
        import re

        import numpy as np
        import pandas as pd

        from hortacloud_importer_spark.sources.tiff import decode_tiff

        pat = re.compile(r"default\.(\d+)\.tif$")
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                m = pat.search(row.path)
                if not m:
                    continue
                rel = row.path.split(f"{root.rstrip('/')}/", 1)[-1]
                zi = yi = xi = 0
                digits = rel.split("/")[:-1]
                for digit_s in digits:
                    d = int(digit_s) - 1
                    xi = (xi << 1) | (d & 1)
                    yi = (yi << 1) | ((d >> 1) & 1)
                    zi = (zi << 1) | ((d >> 2) & 1)
                arr = decode_tiff(bytes(row.content))[..., 0]  # (z, h, w)
                out.append(
                    {
                        "zi": zi,
                        "yi": yi,
                        "xi": xi,
                        "channel": int(m.group(1)),
                        "depth": len(digits),
                        "shape": list(arr.shape),
                        "voxels": arr.astype(np.int32).ravel(),
                    }
                )
            yield pd.DataFrame(out)

    files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.tif")
        .load(root)
    )
    if window is not None or depth is not None:
        zi_c, yi_c, xi_c, depth_c = path_block_coords(root)
        files = files.select("*", zi_c, yi_c, xi_c, depth_c)
        if depth is not None:
            files = files.filter(F.col("_depth") == depth)
        if window is not None:
            if block_dims is None or depth is None:
                # block extent is depth-relative: a voxel window only
                # names blocks at ONE level
                raise ValueError("window pruning requires block_dims and depth")
            for col, (lo, hi), b in zip(
                ("_zi", "_yi", "_xi"), window, block_dims
            ):
                files = files.filter(
                    (F.col(col) >= lo // b) & (F.col(col) <= (hi - 1) // b)
                )
        files = files.drop("_zi", "_yi", "_xi", "_depth")
    files = _committed_only(spark, files, root)
    return files.select("path", "content").mapInPandas(decode, out_schema)
