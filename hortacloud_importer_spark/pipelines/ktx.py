"""The reference's second main program: TIFF octree -> KTX octree.

ktx_from_rendered_tiff.py's driver flow (:331-427) walks octree
nodes, loads each node's rendered TIFF brick, computes the brick's
own mipmap chain (the bounded-state cascade), and writes one
``block_..._ch.ktx`` per node holding the full chain.
``tiff_octree_to_ktx`` is that run as one declarative plan:

- list: ``_block_file_groups`` — the store's committed block files
  (sources/block_store.py::block_files, the one driver-side listing
  every store reader shares) as PATH rows carrying their channel ids
  (one row per file, or one row per block holding its channel files
  when interleaving), built on the driver and handed over as one
  local relation; no payload is read, and nothing is shuffled;
- convert and write: one ``mapInPandas`` kernel per block
  (``_write_ktx_blocks`` over ``_block_converter``: input stats,
  requant, optional XY halving, the in-block mip chain, KTX encode)
  that reads its own file(s) and writes its own ``.ktx`` with
  ``datasource.write_ktx_block`` (idempotent names, staged
  tmp+rename): a map-only plan, because every step is block-local,
  exactly like the reference's one-task-per-node execution;
- commit: the kernel returns only the written names, and the driver
  appends ONE manifest shard naming them (sources/manifest.py);
- resume and reclaim: the work list leaves out each block whose name
  (``sources/ktx.py::ktx_block_name``) the output manifest commits,
  and ``delete_source`` deletes exactly the listed source blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hortacloud_importer_spark.sources import manifest
from hortacloud_importer_spark.sources.block_store import BlockFile, block_files
from hortacloud_importer_spark.sources.datasource import _pa_fs, write_ktx_block
from hortacloud_importer_spark.sources.ktx import ktx_block_name

_GROUP_SCHEMA = (
    "zi int, yi int, xi int, depth int, channels array<int>, paths array<string>"
)


def _block_file_groups(
    spark: SparkSession,
    store_root: str,
    depth: int | None = None,
    per_channel: bool = False,
    done: frozenset[str] | set[str] = frozenset(),
    lz4: bool = False,
) -> DataFrame:
    """The store's committed block files (block_store.block_files) at
    ``depth`` (None = every depth) as the kernel's work rows
    (zi, yi, xi, depth, channels array<int>, paths array<string>),
    ``paths`` relative to ``store_root`` and ``channels`` their channel
    ids: one row per file in ``per_channel`` mode, else one row per
    block holding its channel files in channel order. A block whose
    ``.ktx`` name (``ktx_block_name``) is in ``done``, the output's
    committed set, is left out. All of it happens on the driver's
    rows, so the work list reaches the kernel as one local relation:
    no listing job, no shuffle. Each kernel task then reads its own
    block's file(s) — the reference's one-task-per-block I/O model
    (ktx_from_rendered_tiff.py:331-427) — and a resumed block is never
    opened."""
    import pandas as pd

    groups: dict[tuple[int, int, int, int, int], list[BlockFile]] = {}
    for f in block_files(store_root):
        if depth is None or f.depth == depth:
            key = (f.zi, f.yi, f.xi, f.depth, f.channel if per_channel else -1)
            groups.setdefault(key, []).append(f)
    rows = []
    for key, group in groups.items():
        if ktx_block_name(*key, lz4=lz4) not in done:
            group.sort(key=lambda f: f.channel)
            rows.append(
                (*key[:4], [f.channel for f in group], [f.rel for f in group])
            )
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["zi", "yi", "xi", "depth", "channels", "paths"]),
        _GROUP_SCHEMA,
    )


def _block_converter(
    store_root: str,
    n_mips: int,
    filter_: str,
    interleave: bool,
    geometry,
    downsample_intensity: bool,
    downsample_xy: bool,
):
    """The whole per-block KTX conversion — input statistics, requant,
    optional XY halving, the in-block mip chain, encode — as one
    function from a pandas batch of :func:`_block_file_groups` PATH
    rows to KTX_SCHEMA row dicts, each file's channel taken from the
    row. It runs inside an executor kernel and reads each row's
    file(s) itself (one file per row when
    ``interleave=False``, a block's channel files when
    ``interleave=True``): the reference's one-task-per-node model
    (ktx_from_rendered_tiff.py:331-427)."""
    import numpy as np

    from hortacloud_importer_spark.sources.ktx import (
        _channel_stats,
        _interleaved_block_row,
        _single_block_row,
        interleave_channels,
    )
    from hortacloud_importer_spark.volume import geometry as G
    from hortacloud_importer_spark.volume.downsample import np_halve

    itemsize = 1 if downsample_intensity else 2
    dtype = np.uint8 if itemsize == 1 else np.uint16
    need_stats = geometry is not None or downsample_intensity

    def convert_one(voxels, shape) -> tuple[list[bytes], dict | None, tuple]:
        # int32 is lossless here (uint16 inputs, uint8 after
        # requant) and halves the kernel's peak block memory
        arr = np.asarray(voxels, dtype=np.int32).reshape(
            tuple(int(s) for s in shape)
        )
        st = _channel_stats(arr, downsample_intensity) if need_stats else None
        if downsample_intensity:
            arr = G.requantize(
                arr, st["black"], st["white"], st["gamma0"]
            ).astype(np.int32)
        if downsample_xy:
            arr = np_halve(arr, filter_, axes=(False, True, True))
        levels = [arr]
        for _ in range(1, n_mips):
            arr = np_halve(arr, filter_)
            levels.append(arr)
        return levels, st, levels[0].shape

    def interleaved_row(zi, yi, xi, depth, items):
        """items: (channel, voxels, shape) per channel, any order."""
        chans, per_ch, stats_list = [], [], []
        for ch, voxels, shape_in in sorted(items, key=lambda t: t[0]):
            levels, st, shape = convert_one(voxels, shape_in)
            chans.append(int(ch))
            per_ch.append(levels)
            stats_list.append(st)
        mip_bytes = [
            interleave_channels(
                [np.ascontiguousarray(ch[lv], dtype=dtype) for ch in per_ch]
            ).tobytes()
            for lv in range(n_mips)
        ]
        return _interleaved_block_row(
            zi, yi, xi, depth, chans, mip_bytes, shape,
            itemsize, geometry,
            stats_list if geometry is not None else None,
            True,
        )

    def convert(pdf) -> list[dict]:
        from hortacloud_importer_spark.sources.tiff import decode_tiff

        filesystem, base = _pa_fs(store_root)
        base = base.rstrip("/")
        out = []
        for row in pdf.itertuples():
            items = []
            for ch, rel in zip(row.channels, row.paths):
                with filesystem.open_input_stream(f"{base}/{rel}") as fh:
                    arr = decode_tiff(fh.read())[..., 0]
                items.append((int(ch), arr, arr.shape))
            zi, yi, xi = int(row.zi), int(row.yi), int(row.xi)
            depth = int(row.depth)
            if interleave:
                out.append(interleaved_row(zi, yi, xi, depth, items))
                continue
            if len(items) != 1:
                raise ValueError(
                    "interleave=False file-group rows must "
                    f"carry exactly one file, got {len(items)}"
                    " — grouped (multi-channel) rows need "
                    "interleave=True"
                )
            ch, voxels, shape_in = items[0]
            levels, st, shape = convert_one(voxels, shape_in)
            out.append(
                _single_block_row(
                    zi, yi, xi, depth, ch,
                    [lv.astype(dtype).tobytes() for lv in levels],
                    shape, itemsize, geometry, st, True,
                )
            )
        return out

    return convert


def _write_ktx_blocks(
    groups: DataFrame,
    store_root: str,
    out_dir: str,
    n_mips: int,
    filter_: str = "arthur",
    interleave: bool = False,
    geometry=None,
    downsample_intensity: bool = False,
    downsample_xy: bool = False,
    lz4: bool = False,
) -> DataFrame:
    """The per-block KTX conversion (:func:`_block_converter`) as a
    ``mapInPandas`` from :func:`_block_file_groups` PATH rows under
    ``store_root`` that writes each block's ``.ktx`` under ``out_dir``
    with ``datasource.write_ktx_block`` and returns only the written
    names (``rel``) for the driver to commit.

    Every step of the reference's pass-2 is block-local: stats,
    percentiles and requant params are per (block, channel), the mip
    chain never crosses a block boundary, and the KTX blob serializes
    one block. So no exchange carries a payload at any store size.
    Blocks are bounded by construction (each came from one TIFF file),
    so the in-memory NumPy chain is safe. The values are pinned to
    independent NumPy references (``np_halve`` against the loop
    mirror, ``volume.geometry.requantize``) and the stored bytes to
    the golden digests of tests/test_golden_store.py.
    """
    import pandas as pd

    convert = _block_converter(
        store_root, n_mips, filter_, interleave, geometry,
        downsample_intensity, downsample_xy,
    )

    def convert_and_write(batches):
        filesystem, base = _pa_fs(out_dir)
        base = base.rstrip("/")
        filesystem.create_dir(base, recursive=True)
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "rel": [
                        write_ktx_block(
                            filesystem, base, r["zi"], r["yi"], r["xi"],
                            r["depth"], r["channel"], r["ktx"], lz4,
                        )
                        for r in convert(pdf)
                    ]
                }
            )

    return groups.mapInPandas(convert_and_write, "rel string")


def tiff_octree_to_ktx(
    spark: SparkSession,
    store_root: str,
    out_dir: str,
    block_dims: tuple[int, int, int],
    n_mips: int,
    filter_: str = "arthur",
    depth: int | None = None,
    interleave: bool = False,
    downsample_intensity: bool = False,
    downsample_xy: bool = False,
    with_metadata: bool = True,
    specimen_id: str | None = None,
    delete_source: bool = False,
    resume: bool = False,
    lz4: bool = False,
) -> DataFrame:
    """Convert an octree block store of TIFF files into a KTX block store.

    ``depth`` selects one octree level (None = every block); the
    stored blocks at that depth must share ``block_dims`` (true for
    any store pipelines/octree.py built). Returns a one-row summary
    (n_files, n_blocks, n_mips) read back from the sink manifest.

    When the store carries a root ``transform.txt`` (build_octree
    writes one; the reference requires one,
    ktx_from_rendered_tiff.py:34-48) and ``with_metadata`` is on, each
    KTX header gets the reference's full viewer KV payload — geometry
    walk + per-channel statistics — and ``transform.txt`` is copied
    beside the KTX output (tiff2octree.py:894-901).

    Reference pass-2 options (convert_block_ktx_path,
    tiff2octree.py:454-498):
    ``downsample_intensity`` requantizes uint16 payloads to uint8 with
    per-(block, channel) black/white/gamma estimated from the block's
    own histogram (ktx_from_rendered_tiff.py:346-365; the header still
    reports the INPUT-intensity statistics + reconstruction triple);
    ``downsample_xy`` halves X/Y once before the mip chain
    (ktx/util.py:184-192). ``n_mips`` counts levels AFTER the XY
    halving.

    ``lz4`` writes LZ4-frame ``.ktx.lz4`` side-compressed files (the
    reference's dev-only ``LZ4.exe`` post-pass over the store,
    ktx_from_rendered_tiff.py:565-583, folded into the per-executor
    write); ``decode_ktx`` and every reader handle both transparently.

    ``delete_source`` mirrors the reference's ``--ktxonly`` space
    reclaim (tiff2octree.py:508-515, 1153-1162): after the KTX
    manifest commits, the converted source ``.tif`` blocks below the
    root are deleted (a map over the listed files, executor-side), and
    the root-level ``default.{ch}.tif`` files are moved
    beside the KTX output's parent directory, exactly where the
    reference leaves its lowest-resolution slices.
    """
    import pandas as pd

    from hortacloud_importer_spark.volume.geometry import (
        OctreeGeometry,
        read_transform_txt,
    )

    transform = read_transform_txt(store_root)
    geometry = None
    if with_metadata and transform is not None:
        geometry = OctreeGeometry.from_transform(
            transform,
            block_dims,
            specimen_id=specimen_id
            or store_root.rstrip("/").rsplit("/", 1)[-1],
            mipmap_filter=filter_,
            downsample_xy=downsample_xy,
            downsample_intensity=downsample_intensity,
        )

    out_fs, out_base = _pa_fs(out_dir)
    out_base = out_base.rstrip("/")
    # the reference's pass-2 resume skips blocks whose .ktx output
    # already exists (tiff2octree.py:400-402, per-file os.path.exists);
    # here the work list leaves out every block whose name the OUTPUT
    # manifest commits, so committed blocks are never opened
    done = frozenset()
    if resume:
        done = manifest.committed_files(out_fs, out_base) or done
    # path rows, not payloads (round-6 soak: a payload-grouped
    # interleave shuffled ~1 GiB at 2 GiB scale): one row per file, or
    # per block with its channel files when interleaving, handed to
    # ONE map kernel that converts each block and writes its own file;
    # its only output is the written names the driver commits
    blocks = _block_file_groups(
        spark, store_root, depth, per_channel=not interleave, done=done, lz4=lz4
    )
    # a failed conversion job leaves an opened store, not a foreign one
    manifest.open_store(out_fs, out_base)
    rels = [
        r["rel"]
        for r in _write_ktx_blocks(
            blocks, store_root, out_dir, n_mips, filter_, interleave,
            geometry, downsample_intensity, downsample_xy, lz4,
        ).collect()
    ]
    manifest.write_commit(out_fs, out_base, rels)
    if transform is not None:
        # the reference copies transform.txt beside the KTX output
        # verbatim (tiff2octree.py:894-901)
        from hortacloud_importer_spark.sources.datasource import _copy_file

        src_fs, src_base = _pa_fs(store_root)
        _copy_file(
            src_fs,
            f"{src_base.rstrip('/')}/transform.txt",
            out_fs,
            f"{out_base}/transform.txt",
        )
    # committed-file count over every commit (appends and resumes);
    # one file per block in this sink, so n_blocks == n_files
    n_files = len(manifest.committed_files(out_fs, out_base))
    if delete_source:
        _reclaim_source_store(spark, store_root, out_dir, depth)
    # a local relation: collecting the summary runs no job
    return spark.createDataFrame(
        pd.DataFrame(
            {"n_files": [n_files], "n_blocks": [n_files], "n_mips": [n_mips]}
        ),
        "n_files long, n_blocks long, n_mips int",
    )


def _reclaim_source_store(
    spark: SparkSession,
    store_root: str,
    out_dir: str,
    depth: int | None,
) -> None:
    """The reference's ``--ktxonly`` cleanup: delete converted source
    blocks below the root (tiff2octree.py:508-515 — per-block, after
    its KTX is written; here after the whole commit, so a failed run
    never deletes anything), then move the root ``default.{ch}.tif``
    files next to the KTX output's parent (:1153-1162). Both act on
    the :func:`block_files` rows at ``depth`` — exactly the blocks the
    KTX pass converted — and the delete is a map over them,
    executor-side. ``depth=0`` (root-only conversion) never
    deletes: the root slices are MOVED, matching the reference's
    level > 1 guard; a depth-restricted conversion only reclaims that
    depth."""
    import posixpath

    from hortacloud_importer_spark.sources.block_store import block_frame
    from hortacloud_importer_spark.sources.datasource import _copy_file

    def rm(batches):
        # deletes the blocks below the root
        filesystem, base = _pa_fs(store_root)
        base = base.rstrip("/")
        for pdf in batches:
            for rel in pdf["rel"]:
                try:
                    filesystem.delete_file(f"{base}/{rel}")
                except FileNotFoundError:
                    pass  # idempotent under task retries; any other
                    # failure (permissions, read-only mount) must
                    # surface, not read as a successful reclaim
            yield pdf[["rel"]]

    files = [f for f in block_files(store_root) if depth is None or f.depth == depth]
    below = [f for f in files if f.depth >= 1]
    if below:
        block_frame(spark, below).mapInPandas(rm, "rel string").collect()
    parent = posixpath.dirname(out_dir.rstrip("/")) or "."
    if depth not in (None, 0) or parent.rstrip("/") == store_root.rstrip("/"):
        return
    # root slices move beside the KTX root (driver-side: one file per
    # channel by construction)
    src_fs, src_base = _pa_fs(store_root)
    dst_fs, dst_base = _pa_fs(parent)
    dst_fs.create_dir(dst_base, recursive=True)
    for f in files:
        if f.depth == 0:
            src = f"{src_base.rstrip('/')}/{f.rel}"
            _copy_file(src_fs, src, dst_fs, f"{dst_base.rstrip('/')}/{f.rel}")
            src_fs.delete_file(src)
