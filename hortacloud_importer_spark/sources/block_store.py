"""Partitioned octree block store (SURVEY.md §2.A6/A4/A11, §2.C4).

Spark-first restatement of the reference's filesystem block layout:
- save_block writes ``{octree-path}/default.{ch}.tif`` with ZLIB and
  skips all-zero blocks (tiff2octree.py:298-317, 370-387) -> here a
  parquet write ``partitionBy`` per-level octant digits with zstd,
  preceded by a ``array_max(voxels) > 0`` filter (§4 O5: skip-empty
  is a plan-level HAVING, not imperative control flow).
- check_block / resume (tiff2octree.py:359-368, 1040-1041) -> a LEFT
  ANTI join of the work list against the committed store listing —
  one distributed join instead of N os.path.exists round-trips.
- windowed region read (tiff2octree.py:281-292) -> a range filter on
  block coordinates; because the octant digits are partition columns,
  Catalyst turns it into partition pruning (directory skip), the
  exact analog of the reference opening only the needed files.

Layout: ``{root}/l1=D/l2=D/.../part-*.parquet`` — one directory per
octant digit per level, lexicographically Morton-ordered, so a
spatial crop touches a contiguous subtree exactly like the
reference's nested octant directories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _digit(coord_bit_cols, bit: int):
    zc, yc, xc = coord_bit_cols
    xb = F.shiftright(xc, bit).bitwiseAND(F.lit(1))
    yb = F.shiftright(yc, bit).bitwiseAND(F.lit(1))
    zb = F.shiftright(zc, bit).bitwiseAND(F.lit(1))
    return F.lit(1) + xb + yb * 2 + zb * 4


def with_octree_digits(blocks: DataFrame, nlevels: int) -> DataFrame:
    """Add one ``l{k}`` octant-digit column per level (MSB first)."""
    cols = (F.col("zi"), F.col("yi"), F.col("xi"))
    out = blocks
    for k, bit in enumerate(range(nlevels - 2, -1, -1), start=1):
        out = out.withColumn(f"l{k}", _digit(cols, bit).cast("int"))
    return out


def write_blocks(
    blocks: DataFrame,
    root: str,
    nlevels: int,
    mode: str = "append",
    skip_empty: bool = True,
) -> None:
    """A6: partitioned, compressed, skip-empty block sink.

    ``mode="append"`` keeps the write idempotent-with-resume (pair
    with :func:`resume_filter`); Spark's committed-output protocol
    replaces the reference's sentinel files (§4 O10).
    """
    df = with_octree_digits(blocks, nlevels)
    if skip_empty:
        df = df.filter(F.array_max("voxels") > 0)
    part_cols = [f"l{k}" for k in range(1, nlevels)]
    writer = df.write.mode(mode).option("compression", "zstd")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(root)


def read_blocks(spark: SparkSession, root: str) -> DataFrame:
    """A1 over the block store: schema + partition discovery are
    parquet-native; filters on l{k}/zi/yi/xi prune directories and
    row groups (A4)."""
    return spark.read.parquet(root)


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
    """Distinct channel ids of a ``tiff_blocks`` store, from file
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
    """Semi-join a ``path`` listing against the store's committed
    manifest (no-op for manifest-less foreign stores) — every metadata
    probe must exclude uncommitted leftovers the same way the data
    read does, or a killed build's stray file can surface as a phantom
    channel / wrong extent / wrong depth."""
    from hortacloud_importer_spark.sources import manifest

    committed = manifest.committed_files_df(spark, root)
    if committed is None:
        return files
    import re as _re

    rel = F.element_at(
        F.split("path", _re.escape(f"{root.rstrip('/')}/")), -1
    ).alias("rel")
    return (
        files.withColumn("rel", rel)
        .join(committed, "rel", "left_semi")
        .drop("rel")
    )


def store_block_meta(
    spark: SparkSession, root: str
) -> tuple[tuple[int, int, int], int]:
    """(block extent zyx, deepest octree level) of a ``tiff_blocks``
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
    """Read a ``tiff_blocks`` store (the reference's octree layout,
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
    committed file set via a semi-join on the relative path — abort
    cleanup is best-effort (and non-local filesystems write final
    names directly), so a killed build can leave uncommitted ``.tif``
    leftovers that must not be read back as data. Manifest-less
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
    # same root-prefix split the decoder uses; no broadcast hint in
    # _committed_only — the committed side can be ~1e7 paths, AQE
    # broadcasts when it is small
    files = _committed_only(spark, files, root)
    return files.select("path", "content").mapInPandas(decode, out_schema)


def resume_filter(work: DataFrame, spark: SparkSession, root: str) -> DataFrame:
    """C4: drop work items whose output already exists in the store.

    LEFT ANTI join on the block key — the committed listing is only
    keys (columns pruned at scan), so at 100 TB the join's build side
    is the key set, never payloads.
    """
    key = ["zi", "yi", "xi", "channel"]
    # probe existence FIRST (pyarrow listing, no Spark job): a fresh
    # store is the only state that legitimately means "nothing
    # committed". Anything else — corrupt files, permissions, a
    # transient object-store error — must surface, not silently read
    # as an empty store and trigger a full rewrite (at 100 TB that is
    # a multi-day silent redo). The probe also keeps fresh-store runs
    # from tripping a JVM AnalysisException whose stack trace Spark
    # logs to stderr.
    from pyarrow import fs as pafs

    from hortacloud_importer_spark.sources.datasource import _pa_fs

    filesystem, base = _pa_fs(root)
    info = filesystem.get_file_info(base)
    if info.type == pafs.FileType.NotFound:
        return work
    entries = filesystem.get_file_info(pafs.FileSelector(base, recursive=False))
    # hidden-only contents (e.g. just _temporary/ from a killed first
    # write, or _SUCCESS) mean nothing committed — Spark's reader
    # ignores _/. entries, so treating them as data would turn the
    # probe into an UNABLE_TO_INFER_SCHEMA failure on a fresh store
    if all(i.base_name.startswith(("_", ".")) for i in entries):
        return work
    done = read_blocks(spark, root).select(*key)
    return work.join(done, on=key, how="left_anti")
