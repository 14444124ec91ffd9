"""The reference's main program, Spark-first: slices -> octree store.

tiff2octree.py's driver flow (its __main__, :1236-1366) is: discover
slices -> infer dims -> cut the top level into octant blocks -> write
leaf blocks (ZLIB TIFF under octree paths, skip-empty, sentinel files
for resume) -> downsample level by level, writing each level one
directory shallower, until the root block.  ``build_octree`` composes
the engine's existing operators into exactly that run:

- scan: the ``tiff_volume`` DataSource (A1/A2 — decode on executors),
  or any (z, y, x, channel, intensity) DataFrame the caller provides
  (N5/Zarr via ``n5_volume``/``zarr_volume``, parquet, …);
- dims: inferred with one tiny aggregate when not given (the
  reference infers from the first file, tiff2octree.py:653-691);
- blocks: leaf-grid granularity — 2^(nlevels-1) blocks per axis, the
  reference's calc_optimal_nlevels arrangement
  (tiff2octree.py:618-626). Slice directories are cut into packed
  tiles in-executor (``_slices_to_blocks``); DataFrame sources go
  through ``densify`` + ``blockify``;
- pyramid: one grouped-map per parent block and level — a single
  packed-array shuffle per level: ``halve_blocks`` for the D1-D3
  filters, ``assemble_halved_blocks`` after the per-block aa/spline3
  kernels. Every level reuses the same leaf block DIMS, half the
  block COUNT per axis (ktx/util.py:223-239), so level k lands at
  octree depth nlevels-1-k — the root block is the lowest-resolution
  mip;
- sink: the ``tiff_blocks`` DataSource (A6 — octree-path ZLIB TIFF,
  skip-empty, sharded manifest commit: one immutable shard per level,
  sources/manifest.py);
- resume (C4/A11): blocks whose file is already in the manifest are
  anti-joined away BEFORE any payload work, the distributed dual of
  the reference's per-block existence checks (tiff2octree.py:359-368,
  1040-1041). The committed side is READ as a DataFrame from the
  manifest shards (spark.read.text — splittable), never materialized
  as a driver-side set, so resume scales to ~1e7-block stores.

Everything stays declarative until the sink: one leaf scan, one
shuffle per level, no driver-side payloads.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hortacloud_importer_spark.sources import manifest
from hortacloud_importer_spark.sources.datasource import (
    _pa_fs,
    register_volume_sources,
)
from hortacloud_importer_spark.volume import (
    blockify,
    densify,
    mipmap_dimension,
    octree_path,
)
from hortacloud_importer_spark.operators.kernels import (
    KERNELS,
    downsample_blocks_kernel,
)
from hortacloud_importer_spark.volume.downsample import (
    FILTERS,
    assemble_halved_blocks,
    halve_blocks,
)


def _infer_dims(voxels: DataFrame) -> tuple[int, int, int]:
    row = voxels.agg(
        F.max("z").alias("z"), F.max("y").alias("y"), F.max("x").alias("x")
    ).first()
    return int(row["z"]) + 1, int(row["y"]) + 1, int(row["x"]) + 1


def _detect_slice_suffix(source: str, channels: int) -> str:
    """``.tif`` unless the directory holds only JPEG 2000 slices — the
    reference auto-detects .jp2 inputs the same way (rasterio branch,
    tiff2octree.py:673-678). ONE listing, classified by extension (an
    object-store LIST over ~1e5 slices is not free; probing suffixes
    one listing each would triple it)."""
    from hortacloud_importer_spark.sources.datasource import _list_files

    prefix = f"default.{0}." if channels > 1 else None
    have: set[str] = set()
    for p in _list_files(source.rstrip("/")):
        name = p.rsplit("/", 1)[-1]
        if prefix is not None and not name.startswith(prefix):
            continue
        for sfx in (".tif", ".jp2", ".j2k"):
            if name.endswith(sfx):
                have.add(sfx)
    if ".tif" in have or not have:
        return ".tif"
    return ".jp2" if ".jp2" in have else ".j2k"


def _infer_slice_dims(
    source: str, channels: int, suffix: str = ".tif"
) -> tuple[int, int, int]:
    """Dims of a slice directory from its LISTING plus one file's
    header walk (TIFF IFD or JP2 ihdr box — neither decodes payload)
    — the reference's inference (one file header,
    tiff2octree.py:653-691) instead of a max-aggregate over decoded
    voxels. One z per file is the tiff_volume scan contract."""
    from hortacloud_importer_spark.sources.datasource import (
        _read_bytes,
        _sorted_slices,
    )
    from hortacloud_importer_spark.sources.tiff import tiff_shape

    files = _sorted_slices(
        source.rstrip("/"), suffix, "0" if channels > 1 else None
    )
    if not files:
        raise FileNotFoundError(source)
    if suffix in (".jp2", ".j2k"):
        from hortacloud_importer_spark.sources.jp2 import (
            check_jp2_uint16,
            jp2_shape,
        )

        head = _read_bytes(files[0])
        h, w, nc = jp2_shape(head)
        if nc != 1:
            raise ValueError(
                f"slice file {files[0]} has {nc} components; one "
                "single-sample z-slice per file expected"
            )
        # plan-time admission check mirroring TIFF's _page_dtype rule:
        # a signed or >16-bit JP2 store must fail HERE, not wrap
        # modulo 2^16 inside the uint16 tile-cut kernel
        check_jp2_uint16(head, files[0])
        return len(files), h, w
    pages, h, w = tiff_shape(_read_bytes(files[0]))
    if pages != 1:
        raise ValueError(
            f"slice file {files[0]} has {pages} pages; one z-slice per "
            "file expected (stacks go through stack_voxels)"
        )
    return len(files), h, w


def _slices_to_blocks(
    spark: SparkSession,
    source: str,
    block_dims: tuple[int, int, int],
    padded_dims: tuple[int, int, int],
    channels: int,
    suffix: str = ".tif",
) -> DataFrame:
    """Leaf ingest as packed tiles: slice rows (``emit=slices``) are
    cut into per-(yi, xi) block tiles in-executor and ONE shuffle
    assembles each block from its bz tiles — the packed dual of
    exploding every slice to voxel rows and re-aggregating with
    blockify (whose shuffle carries four coordinate columns per
    intensity and, for non-grid dims, a densify grid join). Y/X
    zero-padding happens on the tile canvas at cut time; missing z
    tiles (z padding) zero-fill on the block canvas. This is the
    dominant shuffle of a build — everything above it is 8x smaller
    per level."""
    import pandas as pd

    bz, by, bx = block_dims
    pz = padded_dims[0]
    gy, gx = padded_dims[1] // by, padded_dims[2] // bx

    tile_schema = (
        "zi int, lz int, yi int, xi int, channel int, tile binary"
    )

    def cut(batches):
        import numpy as np

        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                z = int(row.z)
                if z >= pz:
                    # clip to the padded grid: a stray slice past the
                    # grid (e.g. one channel listing more files than
                    # the channel dims were inferred from) must not
                    # alias onto an in-grid octree path
                    continue
                h, w = int(row.height), int(row.width)
                # uint16 is lossless for every supported slice source
                # (TIFF/JP2 decode to uint8/uint16) and HALVES the raw
                # bytes of the build's dominant shuffle vs int32 tiles
                page = np.zeros((gy * by, gx * bx), dtype=np.uint16)
                arr = np.asarray(row.voxels, dtype=np.uint16).reshape(h, w)
                page[: min(h, gy * by), : min(w, gx * bx)] = arr[
                    : gy * by, : gx * bx
                ]
                for yi in range(gy):
                    for xi in range(gx):
                        tile = page[
                            yi * by : (yi + 1) * by,
                            xi * bx : (xi + 1) * bx,
                        ]
                        if not tile.any():
                            # skip-empty at TILE grain: the assemble
                            # canvas zero-fills missing z-tiles, so an
                            # all-zero tile shuffles nothing — on
                            # blob-sparse microscopy most tiles are
                            # background (a block with NO tiles simply
                            # never materializes, which matches the
                            # sink's skip-empty block filter)
                            continue
                        # raw little-endian bytes, not an int list:
                        # Arrow binary cells move as one buffer
                        out.append(
                            {
                                "zi": z // bz,
                                "lz": z % bz,
                                "yi": yi,
                                "xi": xi,
                                "channel": int(row.channel),
                                "tile": tile.astype("<u2").tobytes(),
                            }
                        )
            yield pd.DataFrame(out)

    tiles = None
    for ch in range(channels):
        scan = (
            spark.read.format("tiff_volume")
            .option("emit", "slices")
            .option("suffix", suffix)
        )
        if channels > 1:
            # the reference's default.{ch}.{z} naming; z stays
            # per-channel
            scan = scan.option("channel", str(ch))
        part = (
            scan.load(source)
            .withColumn("channel", F.lit(ch))
            .mapInPandas(cut, tile_schema)
        )
        tiles = part if tiles is None else tiles.unionByName(part)

    out_schema = (
        "zi int, yi int, xi int, channel int,"
        " shape array<int>, voxels array<int>"
    )

    def assemble(key, pdf):
        import numpy as np

        zi, yi, xi, ch = (int(k) for k in key)
        block = np.zeros((bz, by, bx), dtype=np.int32)
        for row in pdf.itertuples():
            block[int(row.lz)] = np.frombuffer(
                row.tile, dtype="<u2"
            ).reshape(by, bx)
        return pd.DataFrame(
            [
                {
                    "zi": zi,
                    "yi": yi,
                    "xi": xi,
                    "channel": ch,
                    "shape": [bz, by, bx],
                    "voxels": block.ravel(),
                }
            ]
        )

    return tiles.groupBy("zi", "yi", "xi", "channel").applyInPandas(
        assemble, out_schema
    )


def optimal_nlevels(dims: tuple[int, int, int]) -> int:
    """Smallest level count whose leaf blocks fall under 512^3 voxels —
    the reference's calc_optimal_nlevels (tiff2octree.py:617-625),
    restated over ceil-divided block extents because this engine
    zero-pads non-divisible dims instead of cropping them."""
    lv = 1
    while True:
        grid = 1 << (lv - 1)
        leaf = [-(-d // grid) for d in dims]
        if leaf[0] * leaf[1] * leaf[2] < 512 * 512 * 512:
            return lv
        lv += 1


def stack_voxels(
    spark: SparkSession, path: str, channel: int = 0
) -> tuple[DataFrame, tuple[int, int, int]]:
    """Multi-page TIFF stack(s) -> (voxels DataFrame, dims).

    The dual of the reference's ``stack_to_dask_array``
    (tiff2octree.py:627-651, dask_image.imread): every page of every
    matched file, files in sorted-path order, is one z slice. All
    files must share one page count and page shape — the same
    uniformity dask's imread demands. Partition grain is the PAGE,
    not the file: the driver walks each file's IFD chain with seeks
    (tiff_page_table — O(pages) small reads, no payload), broadcasts
    the per-page strip tables, and each task seeks straight to its
    page's strips (decode_stack_page). The old whole-file binaryFile
    read capped stacks at the 2 GB row limit and made one file one
    task; a 100 GB BigTIFF stack now streams page-by-page with
    per-task memory bounded by one page.

    ``path`` may glob (``*?[{`` Hadoop-style, with ``{a,b}``
    alternation) in ANY segment: intermediate glob segments expand
    against directories level by level (``run*/stack.tif``), a final
    glob segment matches files in each expanded directory.
    """
    import pandas as pd
    from pyarrow import fs as pafs

    from hortacloud_importer_spark.sources.datasource import _pa_fs
    from hortacloud_importer_spark.sources.tiff import (
        _TAG_LENGTH,
        _TAG_WIDTH,
        _required,
        tiff_page_table,
    )

    def _hidden(p_: str) -> bool:
        # binaryFile-parity: _SUCCESS, ._resource forks, .DS_Store,
        # _logs/ subtrees etc. are never stack files
        return any(
            seg.startswith(("_", ".")) for seg in p_.split("/") if seg
        )

    def _expand_braces(pat: str) -> list[str]:
        # Hadoop-glob {a,b} alternation (single nesting level suffices
        # for slice-set patterns like stack_{1,2}.tif)
        i = pat.find("{")
        if i < 0:
            return [pat]
        j = pat.find("}", i)
        if j < 0:
            return [pat]
        out = []
        for alt in pat[i + 1 : j].split(","):
            out.extend(_expand_braces(pat[:i] + alt + pat[j + 1 :]))
        return out

    def _glob_seg(s_: str) -> bool:
        return any(c in s_ for c in "*?[{")

    filesystem, base = _pa_fs(path)
    segs = base.split("/")
    # a CONCRETE existing path that happens to contain glob characters
    # (e.g. a literal directory named 'set[1]') keeps resolving as
    # itself — glob expansion applies only when the literal path does
    # not exist, so pre-glob-support call sites never break
    glob_form = any(_glob_seg(s) for s in segs) and (
        filesystem.get_file_info(base).type == pafs.FileType.NotFound
    )
    if glob_form:
        # glob form (dask imread / Hadoop-glob parity): ANY segment
        # may glob, not just the last — run*/stack.tif expands the
        # run* DIRECTORIES level by level, then matches files (or
        # falls through to the concrete-path branch per expansion)
        import fnmatch

        def _matches(name, seg):
            return any(
                fnmatch.fnmatch(name, q) for q in _expand_braces(seg)
            )

        first = next(i for i, s in enumerate(segs) if _glob_seg(s))
        prefixes = ["/".join(segs[:first])]
        for seg in segs[first:-1]:
            if not _glob_seg(seg):
                prefixes = [f"{pre}/{seg}" for pre in prefixes]
                continue
            nxt = []
            for pre in prefixes:
                infos = filesystem.get_file_info(pafs.FileSelector(pre))
                nxt.extend(
                    i.path
                    for i in infos
                    if i.type == pafs.FileType.Directory
                    and not _hidden(i.base_name)
                    and _matches(i.base_name, seg)
                )
            prefixes = sorted(nxt)
        last = segs[-1]
        paths = []
        if _glob_seg(last):
            for pre in prefixes:
                infos = filesystem.get_file_info(pafs.FileSelector(pre))
                paths.extend(
                    i.path
                    for i in infos
                    if i.type == pafs.FileType.File
                    and not _hidden(i.base_name)
                    and _matches(i.base_name, last)
                )
        else:
            for pre in prefixes:
                cand = f"{pre}/{last}"
                if (
                    filesystem.get_file_info(cand).type
                    == pafs.FileType.File
                ):
                    paths.append(cand)
        paths = sorted(paths)
    else:
        info = filesystem.get_file_info(base)
        if info.type == pafs.FileType.File:
            paths = [base]
        else:
            # list through the filesystem we derived (scheme-correct
            # for s3://, hdfs://, ...); paths stay scheme-stripped so
            # the kernel can open them with the same filesystem object
            infos = filesystem.get_file_info(
                pafs.FileSelector(base, recursive=True)
            )
            paths = sorted(
                i.path
                for i in infos
                if i.type == pafs.FileType.File
                and not _hidden(i.path[len(base) :])
            )
    if not paths:
        raise FileNotFoundError(path)
    # page tables in parallel: each file's walk is a handful of small
    # reads, and on an object store doing hundreds of files serially
    # would turn planning into minutes of driver dead time
    from concurrent.futures import ThreadPoolExecutor

    def _table(p_):
        with filesystem.open_input_file(p_) as fh:
            return p_, tiff_page_table(fh)

    with ThreadPoolExecutor(max_workers=min(16, len(paths))) as pool:
        tables = dict(pool.map(_table, paths))
    shape0 = None
    for p_ in paths:
        _ec, page_ifds = tables[p_]
        shape_ = (
            len(page_ifds),
            _required(page_ifds[0], _TAG_LENGTH, "ImageLength")[0],
            _required(page_ifds[0], _TAG_WIDTH, "ImageWidth")[0],
        )
        if shape0 is None:
            shape0 = shape_
        elif shape_ != shape0:
            raise ValueError(
                f"stack file {p_} shape {shape_} != {shape0}; "
                "stacks must be uniform"
            )
    n_pages, h, w = shape0
    dims = (n_pages * len(paths), h, w)
    bc = spark.sparkContext.broadcast(tables)
    order = {p_: i for i, p_ in enumerate(paths)}
    uri = path  # re-derive the filesystem executor-side (not picklable)

    def gen(batches):
        from hortacloud_importer_spark.sources.datasource import _pa_fs
        from hortacloud_importer_spark.sources.tiff import (
            decode_stack_page,
        )

        fs_, _ = _pa_fs(uri)
        for pdf in batches:
            for row in pdf.itertuples():
                p_, pg = row.path, int(row.page_idx)
                ec_, page_ifds = bc.value[p_]
                with fs_.open_input_file(p_) as fh:
                    arr = decode_stack_page(fh, ec_, page_ifds[pg])[..., 0]
                if arr.shape != (h, w):
                    raise ValueError(
                        f"stack file {p_} page {pg} shape {arr.shape} != "
                        f"({h}, {w}); stacks must be uniform"
                    )
                yield pd.DataFrame(
                    {
                        "z": [order[p_] * n_pages + pg],
                        "page": [arr.astype("int64").ravel()],
                    }
                )

    tasks = spark.createDataFrame(
        [(p_, pg) for p_ in paths for pg in range(n_pages)],
        "path string, page_idx int",
    ).repartition(spark.sparkContext.defaultParallelism)
    pages = tasks.mapInPandas(gen, "z int, page array<long>")
    pos = F.col("pos")
    voxels = pages.select(
        "z", F.posexplode("page").alias("pos", "intensity")
    ).select(
        "z",
        (pos / w).cast("int").alias("y"),
        (pos % w).cast("int").alias("x"),
        F.lit(int(channel)).alias("channel"),
        F.col("intensity").cast("int").alias("intensity"),
    )
    return voxels, dims


def build_octree(
    spark: SparkSession,
    source: str | DataFrame,
    out_dir: str,
    nlevels: int | None,
    filter_: str = "arthur",
    dims: tuple[int, int, int] | None = None,
    dtype: str = "uint16",
    resume: bool = True,
    channels: int | None = None,
    origin_nm: tuple[float, float, float] = (0.0, 0.0, 0.0),
    voxel_size_um: tuple[float, float, float] = (1.0, 1.0, 1.0),
    write_transform: bool = True,
) -> DataFrame:
    """Run the full slices -> octree-of-TIFF-blocks build.

    ``source``: a slice directory (scanned via the ``tiff_volume``
    format) or a voxels DataFrame — which must be DENSE (one row per
    coordinate, zeros present; ``volume.densify`` converts sparse
    sources) because block payloads reshape to full block extent.
    Returns the per-level accounting (level, n_blocks_written,
    n_voxels) the run produced — all sink effects are in ``out_dir``
    (blocks + manifest shards + root ``transform.txt``).

    ``origin_nm`` / ``voxel_size_um`` (both xyz; origin in nm, LEAF
    voxel size in um) feed the root ``transform.txt`` the reference
    writes beside its octree (tiff2octree.py:842-901) and that the
    KTX pass reads first (ktx_from_rendered_tiff.py:34-48) —
    ``pipelines.ktx.tiff_octree_to_ktx`` picks it up automatically.
    """
    if filter_ not in FILTERS and filter_ not in KERNELS:
        raise ValueError(
            f"unknown filter {filter_!r}; have {FILTERS + tuple(KERNELS)}"
        )
    register_volume_sources(spark)  # tiff_volume scan + tiff_blocks sink
    voxels: DataFrame | None = None
    # channels=None = "not stated": slice sources default to 1 (the
    # reference's single-channel default), DataFrame sources discover
    # it with the aggregate below. A caller who KNOWS the channel
    # count states it and skips that whole extra job (round-14).
    channels_known = channels is not None
    if channels is None:
        channels = 1
    if isinstance(source, str):
        suffix = _detect_slice_suffix(source, channels)
        if dims is None:
            # listing + one header walk, never a voxel aggregate
            dims = _infer_slice_dims(source, channels, suffix)
    else:
        voxels = source
        if dims is None:
            dims = _infer_dims(voxels)
    if nlevels is None or nlevels <= 0:
        # the reference's -l -1 convention (tiff2octree.py:1175, 617)
        nlevels = optimal_nlevels(dims)
    leaf_grid = 1 << (nlevels - 1)  # leaf blocks per axis
    block_dims = tuple(-(-d // leaf_grid) for d in dims)
    if filter_ in KERNELS and nlevels > 1 and any(b % 2 for b in block_dims):
        # the neighborhood kernels halve by truncation (s // 2); an
        # odd block axis would drop a plane per level. The reference
        # has the same even-extent assumption in its aa/spline path.
        raise ValueError(
            f"kernel filter {filter_!r} needs even block dims, got {block_dims}"
        )

    filesystem, base = _pa_fs(out_dir)
    # committed side as a DataFrame (None = no manifest yet): the
    # resume anti-join never materializes the set driver-side
    done = manifest.committed_files_df(spark, out_dir) if resume else None
    if isinstance(source, str) or channels_known:
        # channel count is a scan parameter, not data — don't pay an
        # aggregate over the whole volume to rediscover it. DataFrame
        # callers that state ``channels`` (any value, including 1)
        # skip the aggregate; only callers that omit it pay the
        # discovery job.
        n_channels = channels
    else:
        n_channels = int(
            voxels.agg(F.countDistinct("channel").alias("c")).first()["c"]
        )
    padded = tuple(b * leaf_grid for b in block_dims)
    if isinstance(source, str):
        # leaf ingest as packed tiles (one shuffle; y/x/z zero-pad on
        # the tile/block canvases — no densify grid join)
        blocks = _slices_to_blocks(
            spark, source, block_dims, padded, channels, suffix
        )
    else:
        if padded != dims:
            # Non-divisible dims leave edge blocks partial, which
            # cannot reshape to block extent; zero-pad to the grid
            # instead (zero = no-data in every downsample kernel,
            # §1.2, so the padding never perturbs pyramid values, and
            # skip-empty drops all-zero pad blocks the way the
            # reference skips empty edge blocks, tiff2octree.py:312).
            # The pad join is the densify grid scan — only paid when
            # dims aren't grid-aligned.
            voxels = densify(voxels, spark, padded, channels=n_channels)
        blocks = blockify(voxels, block_dims)
    dims = padded
    summary_rows = []
    cur_dims = dims
    seen_summaries = set(manifest.summary_files(filesystem, base))
    # The source is scanned EXACTLY ONCE for the whole build: each
    # level's blocks are persisted (memory, spilling to executor
    # disk), the sink writes from that materialization, and the next
    # level is derived from it. Without this, level k's write would
    # recompute the whole chain from the source — k+1 source scans for
    # a k-level build, which at 100 TB is the dominant cost. Each
    # level is 8x smaller than the last, so peak persisted footprint
    # is ~1.14x the leaf level, and parents are unpersisted as soon as
    # their child level materializes.
    prev: DataFrame | None = None
    for level in range(nlevels):
        depth = nlevels - level  # tiff_blocks nlevels option: digits+1
        blocks = blocks.persist(StorageLevel.MEMORY_AND_DISK)
        to_write = blocks
        if done is not None:
            rel = F.concat(
                F.when(
                    F.lit(depth > 1),
                    F.concat(
                        octree_path("zi", "yi", "xi", depth), F.lit("/")
                    ),
                ).otherwise(F.lit("")),
                F.concat_ws("", F.lit("default."), "channel", F.lit(".tif")),
            )
            # no broadcast hint: the committed side can be ~1e7 paths
            # at 100 TB; a shuffled anti-join on the path key is the
            # scale-safe shape (AQE still broadcasts when it is small).
            # Only the SINK side is filtered — the pyramid still needs
            # every block's voxels, written or resumed.
            to_write = (
                blocks.withColumn("rel", rel)
                .join(done, "rel", "left_anti")
                .drop("rel")
            )
        (
            to_write.write.format("tiff_blocks")
            .option("nlevels", depth)
            .option("dtype", dtype)
            .mode("append")
            .save(out_dir)
        )
        # this level is now materialized; its parent can be dropped
        if prev is not None:
            prev.unpersist(blocking=False)
        # accounting from metadata only — no extra jobs over the data:
        # each level's write appends exactly one manifest shard, so
        # "files written this level" is that shard's n_files (resumed
        # and skipped blocks never reach the shard's file list)
        new_summaries = [
            p
            for p in manifest.summary_files(filesystem, base)
            if p not in seen_summaries
        ]
        seen_summaries.update(new_summaries)
        n_blocks = sum(
            int(manifest.read_summary(filesystem, p).get("n_files", 0))
            for p in new_summaries
        )
        n_voxels = cur_dims[0] * cur_dims[1] * cur_dims[2] * n_channels
        summary_rows.append((level, n_blocks, n_voxels))
        if level < nlevels - 1:
            if filter_ in FILTERS:
                # mean/max/arthur at block granularity: assemble 8
                # sibling blocks per parent and halve in-executor —
                # ONE packed-array shuffle per level (see halve_blocks;
                # values pinned by the NumPy-mirror tests in
                # tests/test_octree_pipeline.py)
                nxt = halve_blocks(
                    blocks,
                    filter_,
                    # even dims: halve in place first so the level
                    # shuffle moves child/8 bytes (SOAK.md)
                    halve_first=not any(b % 2 for b in block_dims),
                )
            else:
                # neighborhood kernels (aa / spline3,
                # tiff2octree.py:244-261): halve each block's payload
                # with the grouped-map kernel, then re-assemble 8
                # half-size siblings into full child blocks with one
                # packed-array shuffle
                nxt = assemble_halved_blocks(
                    downsample_blocks_kernel(blocks, filter_)
                )
            cur_dims = tuple(mipmap_dimension(1, d) for d in cur_dims)
            prev, blocks = blocks, nxt
        else:
            blocks.unpersist(blocking=False)
    if write_transform:
        # the reference writes transform.txt once per build
        # (tiff2octree.py:842-901): origin verbatim (nm), s* = leaf
        # voxel size scaled to the root level
        from hortacloud_importer_spark.volume.geometry import (
            write_transform_txt,
        )

        write_transform_txt(out_dir, origin_nm, voxel_size_um, nlevels)
    return spark.createDataFrame(
        summary_rows, "level int, n_blocks_written long, n_voxels long"
    )
