"""The reference's main program, Spark-first: slices -> octree store.

tiff2octree.py's driver flow (its __main__, :1236-1366) is: discover
slices -> infer dims -> cut the top level into octant blocks -> write
leaf blocks (ZLIB TIFF under octree paths, skip-empty, sentinel files
for resume) -> downsample level by level, writing each level one
directory shallower, until the root block.  ``build_octree`` composes
the engine's operators into exactly that run:

- scan: every file-backed input — a slice directory, TIFF stacks, an
  N5 dataset, a Zarr v2/v3 array, a ``c{i}/s{j}`` hierarchy level — is
  listed once on the driver (``sources/listing.py``), and each
  first-pass task reads its own subtree's window of the slices, stack
  pages or chunks its region overlaps by path (``_window_pass``;
  A1/A2/A3) — the reference's lazy per-block read (tiff2octree.py:689,
  821), with no DataSource planning, no voxel rows and no exchange. A
  dense (z, y, x, channel, intensity) DataFrame the caller provides
  works too;
- dims: a listed volume's from its headers and metadata (the
  reference infers from the first file, tiff2octree.py:653-691); a
  DataFrame's from one tiny aggregate when not given;
- blocks: leaf-grid granularity — 2^(nlevels-1) blocks per axis, the
  reference's calc_optimal_nlevels arrangement
  (tiff2octree.py:618-626). Item windows land on the region canvas
  directly; DataFrame sources go through ``densify`` + ``blockify``
  (``_block_pieces``);
- pyramid and sink: passes of ONE kernel per subtree. A pass spans
  the most levels whose 8^s pieces fit the per-task budget
  (``_SUBTREE_BYTES``; a first pass over blocks too big for it spans
  0 levels and writes each leaf alone). Each (subtree, channel)
  task assembles its region, halves it level by level (``np_halve``;
  the ``KERNELS`` function per block for aa/spline3) and writes every
  non-empty block of every level it spans as octree-path ZLIB TIFF
  (A6, ``datasource.write_tiff_block``) from inside the kernel
  (``_region_build``). Every level reuses the same leaf block DIMS,
  half the block COUNT per axis (ktx/util.py:223-239), so level k
  lands at octree depth nlevels-1-k — the root block is the
  lowest-resolution mip. A listed volume's first pass is a map over
  a local list of subtree roots; every later pass groups the
  previous pass's roots by subtree (``_subtree_pass``, one exchange
  of roots 8^s times smaller than the volume), as does the first
  pass over a DataFrame's blocks. At small sizes one pass builds the
  whole tree with no exchange at all;
- commit: the driver opens the store (``manifest.open_store``), then
  appends ONE manifest shard per pass naming the paths the kernels
  returned (sources/manifest.py); the per-level summary counts those
  paths by depth;
- resume (C4/A11): the manifest's committed set is read on the
  driver and parsed once per build (``manifest.committed_files``,
  ``parse_block_rel``); each pass gets the names it owns, keyed by
  subtree (``_owned``) — in the first pass's work rows, or as a
  local relation cogrouped on the subtree key — so a task holds only
  its own. The pyramid is always recomputed from the source and a
  committed file is never rewritten — the distributed dual of the
  reference's per-block existence checks (tiff2octree.py:359-368,
  1040-1041).

One source read, no exchange in a listed volume's first pass, no
driver-side payloads, and per-task memory bounded by one subtree
region: ``_SUBTREE_BYTES`` of int32 canvas, or one leaf block when
that alone is bigger (eight for odd block dims), plus ``np_halve``'s
temporaries.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hortacloud_importer_spark.sources import manifest
from hortacloud_importer_spark.sources.block_store import (
    BlockFile,
    parse_block_rel,
    tiff_block_rel,
)
from hortacloud_importer_spark.sources.datasource import (
    _pa_fs,
    write_tiff_block,
)
from hortacloud_importer_spark.sources.listing import FileVolume, slice_volume
from hortacloud_importer_spark.volume import (
    blockify,
    densify,
    mipmap_dimension,
)
from hortacloud_importer_spark.operators.kernels import KERNELS
from hortacloud_importer_spark.volume.downsample import FILTERS, np_halve


def _infer_dims(voxels: DataFrame) -> tuple[int, int, int]:
    row = voxels.agg(
        F.max("z").alias("z"), F.max("y").alias("y"), F.max("x").alias("x")
    ).first()
    return int(row["z"]) + 1, int(row["y"]) + 1, int(row["x"]) + 1


def _block_pieces(blocks: DataFrame) -> DataFrame:
    """blockify rows as whole-block pieces (raw int32 bytes: DataFrame
    sources may carry wider intensities than uint16, and the sink
    narrows them as it always has)."""
    import pandas as pd

    def pack(batches):
        import numpy as np

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "zi": pdf["zi"],
                    "yi": pdf["yi"],
                    "xi": pdf["xi"],
                    "channel": pdf["channel"],
                    "piece": [
                        np.asarray(v, dtype="<i4").tobytes()
                        for v in pdf["voxels"]
                    ],
                },
                columns=_PIECE_COLS,
            )

    return blocks.mapInPandas(pack, _PIECE_SCHEMA)


# A subtree task assembles its group's region as one int32 canvas of
# at most this many bytes, unless one block (eight for odd block dims)
# is already bigger; np_halve's temporaries add a few times the canvas
# to a task's peak.
_SUBTREE_BYTES = 64 << 20

# A piece is one whole int32 block at the pass's input level:
# blockify rows, or the previous pass's group roots.
_PIECE_COLS = ["zi", "yi", "xi", "channel", "piece"]
_PIECE_SCHEMA = "zi int, yi int, xi int, channel int, piece binary"
# One row per written file (``rel``) plus one per group carrying its
# skip count and, unless the pass is the last, its root as a piece.
_PASS_COLS = ["rel", "n_skipped", *_PIECE_COLS]
_PASS_SCHEMA = "rel string, n_skipped int, " + _PIECE_SCHEMA


def _pass_levels(block_dims: tuple[int, int, int], roots: bool) -> int:
    """Levels one subtree pass spans: the largest s whose region of
    8^s pieces fits ``_SUBTREE_BYTES`` as int32. A piece is one block,
    or an eighth of one when it is a previous pass's halved root
    (``roots`` and even block dims).

    At least 1, so every pass makes progress — except the first pass
    over even blocks, which may span 0 levels: it writes each leaf
    block alone and ships it halved, so when 8 blocks are over the
    budget no task holds more than one block (one leaf, or the 8
    halved roots of the next pass). Odd blocks ship whole, so their
    passes hold 8 blocks at the least."""
    even = not any(b % 2 for b in block_dims)
    piece = 4 * block_dims[0] * block_dims[1] * block_dims[2]
    if roots and even:
        piece //= 8
    s = 0 if even and not roots else 1
    while piece << (3 * (s + 1)) <= _SUBTREE_BYTES:
        s += 1
    return s


def _owned(
    done: list[BlockFile], nlevels: int, first: int, hi: int
) -> dict[tuple[int, int, int, int], list[str]]:
    """The committed files of the levels ``first``..``hi`` a pass
    writes, bucketed by the (gz, gy, gx, channel) subtree that owns
    them: a level-L coordinate shifts up hi - L levels, and
    L = nlevels - 1 - depth."""
    owned: dict[tuple[int, int, int, int], list[str]] = {}
    for f in done:
        up = f.depth + hi - nlevels + 1
        if 0 <= up <= hi - first:
            key = (f.zi >> up, f.yi >> up, f.xi >> up, f.channel)
            owned.setdefault(key, []).append(f.rel)
    return owned


def _region_build(
    out_dir: str,
    nlevels: int,
    lo: int,
    hi: int,
    block_dims: tuple[int, int, int],
    filter_: str,
    dtype: str,
    roots: bool,
):
    """The build both pass forms run on one (subtree, channel) region:
    ``build(region, gz, gy, gx, channel, committed)`` takes the int32
    region at level ``lo`` (``lo + 1`` when the pieces are a previous
    pass's halved ``roots``), writes every non-empty block of every
    level from ``lo`` (``lo + 1`` for roots: the previous pass wrote
    level ``lo``) up to the root at ``hi``, leaving out the names in
    ``committed``, and returns the written paths plus one row with the
    skip count and, unless ``hi`` is the top level, the root as the
    next pass's piece.

    Halving: mean/max/arthur halve the whole region with
    :func:`np_halve` (its extent is 2^k blocks, so pairs never
    straddle two parents — the same values as halving each parent's
    2x2x2 children, for odd block dims too); aa/spline3 apply their
    ``KERNELS`` function per block and tile the halves. Roots ship
    halved when every block dim is even (8x fewer bytes in the next
    exchange), whole otherwise."""
    bz, by, bx = block_dims
    even = not (bz % 2 or by % 2 or bx % 2)
    halved = roots and even
    first = lo + 1 if roots else lo  # first level this pass writes
    kernel = KERNELS.get(filter_)
    last = hi == nlevels - 1

    def halve(region):
        import numpy as np

        if kernel is None:
            return np_halve(region, filter_).astype(np.int32)
        n = region.shape[0] // bz  # blocks per axis
        hz, hy, hx = bz // 2, by // 2, bx // 2
        out = np.zeros((n * hz, n * hy, n * hx), dtype=np.int32)
        for i, j, k in np.ndindex(n, n, n):
            out[
                i * hz : (i + 1) * hz,
                j * hy : (j + 1) * hy,
                k * hx : (k + 1) * hx,
            ] = kernel(
                region[
                    i * bz : (i + 1) * bz,
                    j * by : (j + 1) * by,
                    k * bx : (k + 1) * bx,
                ].astype(np.int64)
            )
        return out

    def build(region, gz, gy, gx, ch, committed):
        import numpy as np
        import pandas as pd

        filesystem, base = _pa_fs(out_dir)
        base = base.rstrip("/")
        made_dirs: set[str] = set()
        rows, skipped = [], 0
        for level in range(lo + halved, hi + 1):
            if level >= first:
                depth = nlevels - level  # store depth: digit count + 1
                up = hi - level
                for i, j, k in np.ndindex(1 << up, 1 << up, 1 << up):
                    zi, yi, xi = (gz << up) + i, (gy << up) + j, (gx << up) + k
                    if tiff_block_rel(zi, yi, xi, ch, depth) in committed:
                        continue
                    rel = write_tiff_block(
                        filesystem, base,
                        region[
                            i * bz : (i + 1) * bz,
                            j * by : (j + 1) * by,
                            k * bx : (k + 1) * bx,
                        ],
                        zi, yi, xi, ch, depth, dtype,
                        made_dirs=made_dirs,
                    )
                    if rel is None:
                        skipped += 1
                    else:
                        rows.append((rel, 0, 0, 0, 0, 0, None))
            if level < hi:
                region = halve(region)
        root = None
        if not last:
            root = (halve(region) if even else region).astype("<i4").tobytes()
        rows.append((None, skipped, gz, gy, gx, ch, root))
        return pd.DataFrame(rows, columns=_PASS_COLS)

    return build


def _window_work(
    volume: FileVolume,
    owned: dict[tuple[int, int, int, int], list[str]],
    span: int,
    block_dims: tuple[int, int, int],
    padded: tuple[int, int, int],
):
    """The first pass's work list over a listed volume: one row per
    (gz, gy, gx, channel) subtree root spanning ``span`` levels, with
    the items its region overlaps (``VolumeChannel.items``, pickled)
    and the committed names it owns. Items past the padded grid are
    left out (one channel listing more slices than the dims were
    inferred from must not alias onto an in-grid octree path), and so
    is a subtree with no item: it is padding or no-data, all zero."""
    import pickle

    import numpy as np
    import pandas as pd

    extent = tuple(b << span for b in block_dims)
    grid = [p // e for p, e in zip(padded, extent)]
    rows = []
    for c in volume.channels:
        for g in np.ndindex(*grid):
            lo = tuple(i * e for i, e in zip(g, extent))
            items = c.items(lo, tuple(i + e for i, e in zip(lo, extent)))
            if items:
                key = (*g, c.channel)
                rows.append((*key, pickle.dumps(items), owned.get(key, [])))
    return pd.DataFrame(
        rows, columns=["gz", "gy", "gx", "channel", "items", "owned"]
    )


def _window_pass(
    spark: SparkSession,
    volume: FileVolume,
    done: list[BlockFile],
    out_dir: str,
    nlevels: int,
    hi: int,
    block_dims: tuple[int, int, int],
    padded: tuple[int, int, int],
    filter_: str,
    dtype: str,
) -> DataFrame:
    """The first pass over a listed volume (``sources/listing.py``), in
    one hop: one ``mapInPandas`` kernel over the local relation of
    :func:`_window_work` rows (no shuffle, ``defaultParallelism`` tasks
    at most). Each row paints the window of its subtree from each of
    its items, read by path, onto the int32 region canvas
    (``VolumeChannel.paint``: slice and stack pages decode only the
    strips or tiles the window touches, chunks are clipped to it), and
    runs the region build (:func:`_region_build`) over levels
    0..``hi``. A task holds one region at a time. Zero padding is the
    canvas's; an all-zero region writes nothing."""
    build = _region_build(
        out_dir, nlevels, 0, hi, block_dims, filter_, dtype, False
    )
    extent = tuple(b << hi for b in block_dims)
    paint = {c.channel: c.paint for c in volume.channels}

    def read(batches):
        import pickle

        import numpy as np

        for pdf in batches:
            for row in pdf.itertuples():
                gz, gy, gx, ch = (
                    int(row.gz), int(row.gy), int(row.gx), int(row.channel)
                )
                region = np.zeros(extent, dtype=np.int32)
                lo = tuple(g * e for g, e in zip((gz, gy, gx), extent))
                paint[ch](region, lo, pickle.loads(row.items))
                if region.any():
                    yield build(region, gz, gy, gx, ch, frozenset(row.owned))

    work = _window_work(
        volume, _owned(done, nlevels, 0, hi), hi, block_dims, padded
    )
    return spark.createDataFrame(
        work,
        "gz int, gy int, gx int, channel int, items binary, "
        "owned array<string>",
    ).mapInPandas(read, _PASS_SCHEMA)


def _subtree_pass(
    pieces: DataFrame,
    done: list[BlockFile],
    out_dir: str,
    nlevels: int,
    lo: int,
    hi: int,
    block_dims: tuple[int, int, int],
    filter_: str,
    dtype: str,
    roots: bool,
) -> DataFrame:
    """One grouped pass of the subtree build: pieces at level ``lo`` —
    whole blocks of a DataFrame source, or the previous pass's
    ``roots`` (halved to level ``lo + 1`` when the block dims are
    even) — are grouped by their ancestor at level ``hi``; one
    grouped-map task per (subtree, channel) assembles the region and
    runs the region build (:func:`_region_build`).

    ``done`` (the store's committed block files, parsed once per
    build) gives the pass the committed names of the levels it
    writes, keyed on the driver by the subtree that owns them
    (:func:`_owned`). That local relation is cogrouped on the same
    key, so a task gets only its own names and skips those files; a
    pass that owns none skips the cogroup. The pyramid is always
    recomputed from the source, and a committed file is never
    rewritten."""
    import pandas as pd

    span = hi - lo
    build = _region_build(
        out_dir, nlevels, lo, hi, block_dims, filter_, dtype, roots
    )
    halved = roots and not any(b % 2 for b in block_dims)
    # piece extent at the region's first level
    pz, py, px = (b // 2 for b in block_dims) if halved else block_dims
    n = 1 << span  # pieces per axis

    def assemble(key, pdf, committed):
        import numpy as np

        gz, gy, gx, ch = (int(k) for k in key)
        if pdf.empty:
            return pd.DataFrame(columns=_PASS_COLS)
        region = np.zeros((n * pz, n * py, n * px), dtype=np.int32)
        for row in pdf.itertuples():
            z0 = (int(row.zi) - (gz << span)) * pz
            y0 = (int(row.yi) - (gy << span)) * py
            x0 = (int(row.xi) - (gx << span)) * px
            region[z0 : z0 + pz, y0 : y0 + py, x0 : x0 + px] = np.frombuffer(
                row.piece, dtype="<i4"
            ).reshape(pz, py, px)
        return build(region, gz, gy, gx, ch, committed)

    keys = [
        F.shiftright("zi", span).alias("gz"),
        F.shiftright("yi", span).alias("gy"),
        F.shiftright("xi", span).alias("gx"),
        F.col("channel"),
    ]
    grouped = pieces.groupBy(*keys)
    owned = _owned(done, nlevels, lo + 1 if roots else lo, hi)
    if not owned:
        return grouped.applyInPandas(
            lambda key, pdf: assemble(key, pdf, frozenset()), _PASS_SCHEMA
        )
    committed = pieces.sparkSession.createDataFrame(
        pd.DataFrame(
            [(rel, *key) for key, rels in owned.items() for rel in rels],
            columns=["rel", "gz", "gy", "gx", "channel"],
        ),
        "rel string, gz int, gy int, gx int, channel int",
    )
    return grouped.cogroup(
        committed.groupBy("gz", "gy", "gx", "channel")
    ).applyInPandas(
        lambda key, pdf, rels: assemble(key, pdf, frozenset(rels["rel"])),
        _PASS_SCHEMA,
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


def build_octree(
    spark: SparkSession,
    source: str | FileVolume | DataFrame,
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

    ``source``: a volume listed on the driver (``sources/listing.py``:
    a slice directory, TIFF stacks, an N5 dataset, a Zarr array or a
    ``c{i}/s{j}`` hierarchy level; each subtree task reads its own
    window of its items by path in the first pass, ``_window_pass``),
    a slice directory's path (listed with ``channels`` channels, 1
    when not stated), or a voxels DataFrame — which must be DENSE (one
    row per coordinate, zeros present; ``volume.densify`` converts
    sparse sources) because block payloads reshape to full block
    extent. A DataFrame's channel count is ``channels``, or one
    aggregate over it when not stated; a listed volume carries its
    own.
    Returns the per-level accounting (level, n_blocks_written,
    n_voxels) the run produced — all sink effects are in ``out_dir``
    (blocks + manifest shards + root ``transform.txt``).

    ``origin_nm`` / ``voxel_size_um`` (both xyz; origin in nm, LEAF
    voxel size in um) feed the root ``transform.txt`` the reference
    writes beside its octree (tiff2octree.py:842-901) and that the
    KTX pass reads first (ktx_from_rendered_tiff.py:34-48) —
    ``pipelines.ktx.tiff_octree_to_ktx`` picks it up automatically.
    """
    import pandas as pd

    if filter_ not in FILTERS and filter_ not in KERNELS:
        raise ValueError(
            f"unknown filter {filter_!r}; have {FILTERS + tuple(KERNELS)}"
        )
    volume = voxels = None
    if isinstance(source, str):
        source = slice_volume(source, channels or 1)
    if isinstance(source, FileVolume):
        # dims from headers and metadata, never a voxel aggregate
        volume = source
        dims = dims or volume.dims
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

    # the committed block files, read and parsed once per build; each
    # pass hands every subtree task the names it owns, and no more
    filesystem, base = _pa_fs(out_dir)
    committed = manifest.committed_files(filesystem, base) if resume else None
    done = [f for f in map(parse_block_rel, committed or ()) if f is not None]
    padded = tuple(b * leaf_grid for b in block_dims)
    if volume is not None:
        n_channels = len(volume.channels)
    else:
        # the channel count is a scan parameter, not data: a caller
        # who states it (any value, including 1) skips the aggregate
        # that discovers it
        n_channels = channels
        if n_channels is None:
            n_channels = int(
                voxels.agg(F.countDistinct("channel").alias("c")).first()["c"]
            )
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
        pieces = _block_pieces(blockify(voxels, block_dims))

    # Passes of one kernel per subtree: each pass writes the levels
    # lo..hi of its subtrees and commits ONE manifest shard; the next
    # pass starts from the group roots. The source is read once; a
    # pass's output (paths + roots, 8^s times smaller than its input)
    # is persisted only when another pass reads it.
    manifest.open_store(filesystem, base)
    written = [0] * nlevels
    lo, roots, prev = 0, False, None
    while True:
        hi = min(lo + _pass_levels(block_dims, roots), nlevels - 1)
        if not roots and volume is not None:
            out = _window_pass(
                spark, volume, done, out_dir, nlevels, hi, block_dims,
                padded, filter_, dtype,
            )
        else:
            out = _subtree_pass(
                pieces, done, out_dir, nlevels, lo, hi, block_dims,
                filter_, dtype, roots,
            )
        if hi < nlevels - 1:
            out = out.persist(StorageLevel.MEMORY_AND_DISK)
        rows = out.select("rel", "n_skipped").collect()
        rels = [r["rel"] for r in rows if r["rel"] is not None]
        manifest.write_commit(
            filesystem, base, sorted(rels),
            n_skipped=sum(r["n_skipped"] for r in rows),
        )
        for rel in rels:
            written[nlevels - 1 - rel.count("/")] += 1
        if prev is not None:
            prev.unpersist(blocking=False)
        if hi == nlevels - 1:
            break
        pieces = out.filter(F.col("piece").isNotNull()).select(*_PIECE_COLS)
        lo, roots, prev = hi, True, out
    summary_rows = []
    cur_dims = padded
    for level in range(nlevels):
        n_voxels = cur_dims[0] * cur_dims[1] * cur_dims[2] * n_channels
        summary_rows.append((level, written[level], n_voxels))
        cur_dims = tuple(mipmap_dimension(1, d) for d in cur_dims)
    if write_transform:
        # the reference writes transform.txt once per build
        # (tiff2octree.py:842-901): origin verbatim (nm), s* = leaf
        # voxel size scaled to the root level
        from hortacloud_importer_spark.volume.geometry import (
            write_transform_txt,
        )

        write_transform_txt(out_dir, origin_nm, voxel_size_um, nlevels)
    # a local relation: collecting the summary runs no job
    return spark.createDataFrame(
        pd.DataFrame(
            summary_rows, columns=["level", "n_blocks_written", "n_voxels"]
        ),
        "level int, n_blocks_written long, n_voxels long",
    )
