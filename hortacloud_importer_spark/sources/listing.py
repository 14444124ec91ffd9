"""File-backed volumes, listed once on the driver and read by window.

The reference reads each input as a virtual array whose blocks read
their own regions (``slice_to_dask_array``/``stack_to_dask_array``,
tiff2octree.py:627-691; ``n5_zarr_to_dask_array``, :779-823). Here a
slice directory, TIFF stacks, an N5 dataset or Zarr array, or a
``c{i}/s{j}`` hierarchy level is listed on the driver into a
:class:`FileVolume`: its dims from headers and metadata (never a pass
over the voxels; bad input fails here, before any Spark job, wherever
they can tell) and, per channel, ``items(lo, hi)``, what a region
overlaps (slice paths, stack pages with their IFDs, chunk keys), and
``paint``, which reads those items' windows onto the region's canvas
in a task and carries none of the listing.
"""

from __future__ import annotations

import itertools
import re
from dataclasses import dataclass
from functools import partial
from typing import Callable

import numpy as np

Corner = tuple[int, int, int]


@dataclass(frozen=True)
class VolumeChannel:
    """One channel of a listed volume: the id its blocks are named by,
    ``items(lo, hi)`` (driver side: what the region [lo, hi) overlaps)
    and ``paint(region, lo, items)`` (task side: read each item's
    window onto the int32 ``region`` whose corner is ``lo``)."""

    channel: int
    items: Callable[[Corner, Corner], list]
    paint: Callable[[np.ndarray, Corner, list], None]


@dataclass(frozen=True)
class FileVolume:
    """A volume listed on the driver: its (z, y, x) dims and channels."""

    dims: tuple[int, int, int]
    channels: tuple[VolumeChannel, ...]


def _z_run(items: list) -> Callable[[Corner, Corner], list]:
    """The items of a region's z-range, one per z (slices, pages)."""
    return lambda lo, hi: items[lo[0] : hi[0]]


def _window(region: np.ndarray, lo: Corner) -> tuple[int, int, int, int]:
    return (lo[1], lo[1] + region.shape[1], lo[2], lo[2] + region.shape[2])


# ------------------------------------------------------------- slices


def _list_slices(
    source: str, channels: int
) -> tuple[list[list[str]], list[tuple[int, int] | None]]:
    """A slice directory's slices per channel in z order (sorted
    paths; with several channels the reference's ``default.{ch}.{z}``
    names select each) and the page shape of each channel's first
    slice, from ONE listing (an object-store LIST over ~1e5 slices is
    not free) and one header walk per channel (a TIFF's IFD chain by
    seek, fetching only its header; a JP2's ihdr box, read whole) —
    the reference infers dims from one file (tiff2octree.py:653-691).
    The suffix is ``.tif`` unless the first channel's slices are all
    JPEG 2000, the reference's auto-detection (rasterio branch,
    tiff2octree.py:673-678).

    Bad input fails here, before any Spark job: no slice, a gap in z
    (``_check_z_run``), a first slice that is not one single-sample
    page, or a signed or >16-bit JP2 first slice (the mirror of TIFF's
    _page_dtype rule; the uint16 tile cut would wrap it)."""
    from hortacloud_importer_spark.sources.datasource import (
        _list_files,
        _slice_file_shape,
        _sorted_slices,
    )

    listing = _list_files(source.rstrip("/"))
    names = [str(ch) if channels > 1 else None for ch in range(channels)]
    suffix = next(
        (
            sfx
            for sfx in (".tif", ".jp2", ".j2k")
            if _sorted_slices(listing, sfx, names[0])
        ),
        ".tif",
    )
    files = [_sorted_slices(listing, suffix, name) for name in names]
    if not files[0]:
        raise FileNotFoundError(source)
    shapes = []
    for slices in files:
        _check_z_run(slices, suffix)
        shapes.append(_slice_file_shape(slices[0]) if slices else None)
    return files, shapes


_Z_INDEX = re.compile(r"(\d+)$")


def _check_z_run(slices: list[str], suffix: str) -> None:
    """When every slice name ends in a decimal index (the reference's
    ``default.{ch}.{z}``), the sorted indices must be consecutive: a
    missing slice would otherwise shift every later z down by one."""
    index = []
    for p in slices:
        name = p.partition("?")[0].rsplit("/", 1)[-1]
        m = _Z_INDEX.search(name[: -len(suffix)])
        if m is None:
            return
        index.append(int(m.group(1)))
    for i in range(1, len(slices)):
        if index[i] != index[i - 1] + 1:
            raise ValueError(
                f"slice z gap: {slices[i - 1]} (index {index[i - 1]}) is "
                f"followed by {slices[i]} (index {index[i]}); a volume's "
                "slice indices must be consecutive"
            )


def _paint_slices(region, lo, paths, first) -> None:
    """Each slice's window (``datasource._read_slice``: its page count
    and shape are checked against ``first`` before any payload is
    decoded, then only the strips or tiles the window touches are)."""
    from hortacloud_importer_spark.sources.datasource import _read_slice

    window = _window(region, lo)
    for z, path in enumerate(paths):
        arr = _read_slice(path, first, window=window)
        region[z, : arr.shape[0], : arr.shape[1]] = arr


def slice_volume(source: str, channels: int = 1) -> FileVolume:
    """A slice directory (:func:`_list_slices`) as a listed volume:
    dims from the first channel's slice count and first header."""
    files, shapes = _list_slices(source, channels)
    return FileVolume(
        (len(files[0]), *shapes[0]),
        tuple(
            VolumeChannel(
                ch,
                _z_run(paths),
                partial(
                    _paint_slices, first=(paths[0], shape) if paths else None
                ),
            )
            for ch, (paths, shape) in enumerate(zip(files, shapes))
        ),
    )


# ------------------------------------------------------------- stacks


def _hidden(path: str) -> bool:
    # binaryFile parity: _SUCCESS, ._resource forks, .DS_Store, _logs/
    # subtrees etc. are never stack files
    return any(seg.startswith(("_", ".")) for seg in path.split("/") if seg)


def _expand_braces(pat: str) -> list[str]:
    # Hadoop-glob {a,b} alternation (one nesting level suffices for
    # slice-set patterns like stack_{1,2}.tif)
    i = pat.find("{")
    j = pat.find("}", i)
    if i < 0 or j < 0:
        return [pat]
    return [
        q
        for alt in pat[i + 1 : j].split(",")
        for q in _expand_braces(pat[:i] + alt + pat[j + 1 :])
    ]


def _glob_seg(seg: str) -> bool:
    return any(c in seg for c in "*?[{")


def _list_stack_files(path: str) -> list[str]:
    """The stack files ``path`` names, sorted: the file itself, every
    file under a directory, or a glob's matches. A glob (``*?[{``
    Hadoop-style, with ``{a,b}`` alternation) may sit in ANY segment:
    intermediate segments expand against directories level by level
    (``run*/stack.tif``), a final one matches files in each expanded
    directory. A concrete path that exists keeps resolving as itself
    even when it holds glob characters (a directory named ``set[1]``).
    Hidden files (``_``/``.`` segments) are never stack files. Paths
    keep the URI's scheme and ``?`` options, so a task rebuilds the
    same filesystem from each."""
    import fnmatch

    from pyarrow import fs as pafs

    from hortacloud_importer_spark.sources.datasource import _pa_fs

    filesystem, base = _pa_fs(path)
    bare, sep, query = path.partition("?")
    prefix = bare[: len(bare) - len(base)]
    File, Dir = pafs.FileType.File, pafs.FileType.Directory

    def expand(pre: str, seg: str, kind) -> list[str]:
        if not _glob_seg(seg):
            return [f"{pre}/{seg}"]
        return [
            i.path
            for i in filesystem.get_file_info(pafs.FileSelector(pre))
            if i.type == kind
            and not _hidden(i.base_name)
            and any(fnmatch.fnmatch(i.base_name, q) for q in _expand_braces(seg))
        ]

    segs = base.split("/")
    kind = filesystem.get_file_info(base).type
    if kind == File:
        paths = [base]
    elif kind == Dir:
        infos = filesystem.get_file_info(pafs.FileSelector(base, recursive=True))
        paths = [
            i.path
            for i in infos
            if i.type == File and not _hidden(i.path[len(base) :])
        ]
    elif any(_glob_seg(s) for s in segs):
        first = next(i for i, s in enumerate(segs) if _glob_seg(s))
        paths = ["/".join(segs[:first])]
        for i in range(first, len(segs)):
            kind = File if i == len(segs) - 1 else Dir
            paths = [p for pre in paths for p in expand(pre, segs[i], kind)]
        if not _glob_seg(segs[-1]):
            paths = [i.path for i in filesystem.get_file_info(paths) if i.type == File]
    else:
        paths = []
    if not paths:
        raise FileNotFoundError(path)
    return [prefix + p + sep + query for p in sorted(paths)]


def _stack_table(path: str):
    """(endian, page IFDs) of one stack file, walked by seek."""
    from hortacloud_importer_spark.sources.datasource import _named, _pa_fs
    from hortacloud_importer_spark.sources.tiff import tiff_page_table

    filesystem, p = _pa_fs(path)
    with filesystem.open_input_file(p) as fh:
        return _named(path, tiff_page_table, fh)


def _paint_pages(region, lo, pages) -> None:
    """Each stack page's window, read by seek with the IFD the driver
    walked (``decode_stack_page``): only the strips or tiles the window
    touches are fetched. A file is opened once per run of its pages."""
    from hortacloud_importer_spark.sources.datasource import _named, _pa_fs
    from hortacloud_importer_spark.sources.tiff import decode_stack_page

    window = _window(region, lo)
    z = 0
    for path, run in itertools.groupby(pages, key=lambda page: page[0]):
        filesystem, p = _pa_fs(path)
        with filesystem.open_input_file(p) as fh:
            for _, ec, ifd in run:
                arr = _named(
                    path,
                    partial(decode_stack_page, ec=ec, ifd=ifd, window=window),
                    fh,
                )[..., 0]
                region[z, : arr.shape[0], : arr.shape[1]] = arr
                z += 1


def stack_volume(path: str, channel: int = 0) -> FileVolume:
    """Multi-page TIFF stack(s) as a one-channel listed volume, tagged
    ``channel``: every page of every file (:func:`_list_stack_files`),
    files in sorted-path order, is one z slice — the reference's
    ``stack_to_dask_array`` (tiff2octree.py:627-651, dask_image.imread).
    Each file's IFD chain is walked once, by seek, on the driver (a
    few small reads per page, no payload; files in parallel, since on
    an object store hundreds of serial walks are minutes of dead
    time), and every page must have the first page's shape and every
    file its page count — dask's imread uniformity — or the listing
    fails, naming the file. Each z item is a page with its IFD, so no
    task walks a file's IFD chain again."""
    from concurrent.futures import ThreadPoolExecutor

    from hortacloud_importer_spark.sources.datasource import _named
    from hortacloud_importer_spark.sources.tiff import page_shape

    paths = _list_stack_files(path)
    with ThreadPoolExecutor(max_workers=min(16, len(paths))) as pool:
        tables = list(pool.map(_stack_table, paths))
    pages, shape0 = [], None
    for p, (ec, ifds) in zip(paths, tables):
        for ifd in ifds:
            shape = (len(ifds), *_named(p, page_shape, ifd)[:2])
            shape0 = shape0 or shape
            if shape != shape0:
                raise ValueError(
                    f"stack file {p} shape {shape} != {shape0} (pages, "
                    "height, width); stacks must be uniform"
                )
            pages.append((p, ec, ifd))
    return FileVolume(
        (len(pages), *shape0[1:]),
        (VolumeChannel(channel, _z_run(pages), _paint_pages),),
    )


# -------------------------------------------------------- chunk stores


def _chunk_items(store) -> Callable[[Corner, Corner], list]:
    """The chunk keys (``ChunkStore.keys``: one listing; a never-written
    chunk of a non-zero fill is a ``None`` key) whose cells a region
    overlaps."""
    keys = {key[1:]: key for key in store.keys()}

    def items(lo: Corner, hi: Corner) -> list:
        cells = (
            range(l // c, -(-h // c)) for l, h, c in zip(lo, hi, store.chunks)
        )
        return [keys[g] for g in itertools.product(*cells) if g in keys]

    return items


def _paint_chunks(region, lo, keys, store) -> None:
    """Each chunk, read by path (``ChunkStore.read``; a ``None`` key is
    the fill), clipped to the region."""
    for key in keys:
        arr = store.read(key)
        at = [g * c - l for g, c, l in zip(key[1:], store.chunks, lo)]
        src = tuple(
            slice(max(0, -a), min(n, e - a))
            for a, n, e in zip(at, arr.shape, region.shape)
        )
        dst = tuple(slice(a + s.start, a + s.stop) for a, s in zip(at, src))
        region[dst] = arr[src]


def store_volume(stores: list) -> FileVolume:
    """Opened chunk stores (``sources/n5.py::chunk_store``), one per
    ``(channel, store)``, as a listed volume. Every channel must have
    the first one's shape, or the listing fails naming both stores."""
    from hortacloud_importer_spark.sources.n5 import ChunkStoreError

    first = stores[0][1]
    for _, store in stores[1:]:
        if store.shape != first.shape:
            raise ChunkStoreError(
                f"{store.root} shape {store.shape} != {first.root} shape "
                f"{first.shape}; every channel of a volume must have one shape"
            )
    return FileVolume(
        first.shape,
        tuple(
            VolumeChannel(ch, _chunk_items(store), partial(_paint_chunks, store=store))
            for ch, store in stores
        ),
    )


def hierarchy_volume(root: str, scale: int = 0) -> FileVolume:
    """Level ``scale`` of a ``c{i}/s{j}`` hierarchy, every channel
    (``hierarchy._level_groups``; the reference's check_n5_levels /
    check_n5_channels, tiff2octree.py:711-777): each group is an N5
    dataset or Zarr array, opened once."""
    from hortacloud_importer_spark.sources.hierarchy import _level_groups
    from hortacloud_importer_spark.sources.n5 import chunk_store

    return store_volume(
        [(ch, chunk_store(base)) for ch, base in _level_groups(root, scale)]
    )
