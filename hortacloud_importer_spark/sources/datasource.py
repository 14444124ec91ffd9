"""Spark Python DataSource front door for the volume container formats.

The reference's entry points are directory scans that build a lazy
chunked array and read blocks on demand — ``slice_to_dask_array``
(tiff2octree.py:653-691), ``n5_zarr_to_dask_array``
(tiff2octree.py:779-823) with the windowed block read
``get_cropped_image_rasterio`` (tiff2octree.py:281-292). The Spark-4
Python DataSource API lets the engine register those front doors as
real formats:

    spark.dataSource.register(N5VolumeDataSource)
    spark.read.format("n5_volume").load(root)      # batch
    spark.readStream.format("tiff_volume").load(d) # ordered z stream

Scale design:

- **Planning = chunk grid, not payloads.** ``partitions()`` lists the
  chunk files (driver side, metadata only) and emits one input
  partition per ~``target_partition_bytes`` of decoded samples, so a
  100 TB store with millions of chunks plans into input splits the
  same way the built-in Parquet source sizes its splits. The default,
  8 MiB of samples, is ~128 MiB of voxel rows for uint16 (four bigint
  columns), Spark's own split size. Payload bytes are only ever
  touched inside ``read()`` on executors.
- **Filter pushdown prunes chunks.** ``pushFilters`` accepts range /
  equality predicates on ``z``/``y``/``x`` and drops whole chunks
  whose coordinate extent cannot intersect — the A4 windowed-read
  dual, same contract as Parquet row-group skipping. All filters are
  returned to Spark as "unsupported" so row-level evaluation still
  runs: pruning is a pure optimization and can never under-deliver.
- **Arrow batches out.** ``read()`` yields one pyarrow RecordBatch
  per chunk (columnar, zero row-at-a-time Python), so decode cost is
  NumPy-bound (sources/n5.py::ChunkStore.read).
- **No JVM dependence.** Planning and decode run in Python workers
  (no py4j gateway there); file IO goes through ``pyarrow.fs`` like
  sources/ktx.py's executor-side sink, so local / HDFS / S3 paths
  behave identically.

The streaming half (``tiff_volume`` with ``readStream``) implements
the reference's ordered z-slice consumption (I1,
ktx_from_rendered_tiff.py:331-342): each micro-batch takes the next
``max_slices_per_batch`` files in sorted order; offsets are the
number of slices consumed, so restart/replay re-reads a deterministic
file range.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from hortacloud_importer_spark.sources import manifest
from hortacloud_importer_spark.sources.block_store import tiff_block_rel

VOXEL_DDL = "z bigint, y bigint, x bigint, intensity bigint"
_AXES = ("z", "y", "x")
_DEFAULT_PARTITION_BYTES = 8 * 1024 * 1024


def _pa_fs(path: str):
    """pyarrow filesystem + normalized path for local or URI paths.

    ``s3a://`` (the Hadoop spelling every cluster writes in configs)
    aliases to pyarrow's ``s3://`` — the same store; executors would
    otherwise reject the URI form the JVM side accepts."""
    from pyarrow import fs as pafs

    if path.startswith("s3a://"):
        path = "s3://" + path[6:]
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _read_bytes(path: str) -> bytes:
    filesystem, p = _pa_fs(path)
    with filesystem.open_input_stream(p) as fh:
        return fh.read()


def _copy_file(src_fs, src_path: str, dst_fs, dst_path: str) -> None:
    """Cross-filesystem single-file copy (pyarrow streams), staged like
    every other file write. The caller ensures the destination
    directory exists."""
    with src_fs.open_input_stream(src_path) as fh:
        payload = fh.read()
    with manifest.staged_output(dst_fs, dst_path) as fh:
        fh.write(payload)


def _list_files(root: str, recursive: bool = False) -> list[str]:
    """The files directly in ``root`` (with ``recursive``, in its whole
    tree: a chunk store's chunks sit in nested directories). A slice
    directory's slices are its own files, so an octree written inside
    it is never read as more z slices."""
    from pyarrow import fs as pafs

    filesystem, base = _pa_fs(root)
    infos = filesystem.get_file_info(pafs.FileSelector(base, recursive=recursive))
    # scheme prefix, with any ?opts query (pyarrow filesystem options
    # like s3 endpoint_override ride in the URI query and must follow
    # every child path so executor-side _pa_fs calls reconstruct the
    # same filesystem)
    bare, sep, query = root.partition("?")
    prefix = bare[: len(bare) - len(base)]
    return [
        prefix + i.path + sep + query
        for i in infos
        if i.type == pafs.FileType.File
    ]


@dataclass
class _Bounds:
    """Per-axis inclusive [lo, hi] coordinate bounds from pushed filters."""

    lo: dict[str, int] = field(default_factory=dict)
    hi: dict[str, int] = field(default_factory=dict)

    def narrow(self, axis: str, lo: int | None = None, hi: int | None = None):
        if lo is not None:
            self.lo[axis] = max(self.lo.get(axis, lo), lo)
        if hi is not None:
            self.hi[axis] = min(self.hi.get(axis, hi), hi)

    def admits(self, axis: str, ext_lo: int, ext_hi: int) -> bool:
        """Could [ext_lo, ext_hi] intersect the bounds on `axis`?"""
        if axis in self.lo and ext_hi < self.lo[axis]:
            return False
        if axis in self.hi and ext_lo > self.hi[axis]:
            return False
        return True


def _absorb_filters(filters: list[Filter], bounds: _Bounds) -> list[Filter]:
    """Tighten `bounds` from z/y/x predicates; return ALL filters as
    unsupported so Spark re-applies them row-level (pruning-only
    pushdown — the Parquet row-group-skip contract)."""
    for f in filters:
        attr = getattr(f, "attribute", None)
        if not (isinstance(attr, tuple) and len(attr) == 1 and attr[0] in _AXES):
            continue
        axis = attr[0]
        try:
            if isinstance(f, EqualTo):
                bounds.narrow(axis, lo=int(f.value), hi=int(f.value))
            elif isinstance(f, GreaterThan):
                bounds.narrow(axis, lo=int(f.value) + 1)
            elif isinstance(f, GreaterThanOrEqual):
                bounds.narrow(axis, lo=int(f.value))
            elif isinstance(f, LessThan):
                bounds.narrow(axis, hi=int(f.value) - 1)
            elif isinstance(f, LessThanOrEqual):
                bounds.narrow(axis, hi=int(f.value))
            elif isinstance(f, In):
                vals = [int(v) for v in f.value]
                if vals:
                    bounds.narrow(axis, lo=min(vals), hi=max(vals))
        except (TypeError, ValueError):
            continue  # non-integer comparand: no pruning from this filter
    return filters


@dataclass
class _ChunkPartition(InputPartition):
    """A group of chunk keys, ``(rel, gz, gy, gx)``, decoded by one task."""

    chunks: list[tuple[str | None, int, int, int]]


def _group_chunks(
    chunks: list[tuple[str | None, int, int, int]],
    bytes_per_chunk: int,
    target: int,
) -> list[_ChunkPartition]:
    per = max(1, target // max(1, bytes_per_chunk))
    return [
        _ChunkPartition(chunks[i : i + per]) for i in range(0, len(chunks), per)
    ] or [_ChunkPartition([])]


def _voxel_batch(z, y, x, i) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [
            pa.array(z, type=pa.int64()),
            pa.array(y, type=pa.int64()),
            pa.array(x, type=pa.int64()),
            pa.array(i, type=pa.int64()),
        ],
        names=["z", "y", "x", "intensity"],
    )


class _PushdownMixin:
    """The ``pushFilters`` half of the chunk readers, split out so
    :func:`register_volume_sources` can register no-pushdown reader
    variants when a session refuses
    ``spark.sql.python.filterPushdown.enabled``: Spark will not plan a
    Python DataSource whose reader overrides ``pushFilters`` while that
    conf is off, and chunk pruning is a pure optimization (all filters
    are re-applied row-level), so dropping it is always safe."""

    def pushFilters(self, filters: list[Filter]):
        return _absorb_filters(filters, self.bounds)


class _ChunkReaderNoPushdown(DataSourceReader):
    """Both chunk-store formats: the store is opened once on the
    planner (sources/n5.py::chunk_store), its chunk keys are listed and
    pruned there, and each task reads its chunks by path. Options:
    ``target_partition_bytes`` (decoded bytes per task) and ``verify``
    (check lz4-java xxh32 and Zarr v3 crc32c checksums)."""

    def __init__(self, options: dict):
        from hortacloud_importer_spark.sources.n5 import chunk_store

        self.store = chunk_store(options["path"].rstrip("/"))
        self.target = int(
            options.get("target_partition_bytes", _DEFAULT_PARTITION_BYTES)
        )
        self.verify = str(options.get("verify", "false")).lower() == "true"
        self.bounds = _Bounds()

    def partitions(self):
        chunks = self.store.chunks
        keys = [
            key
            for key in self.store.keys()
            if all(
                self.bounds.admits(axis, g * c, (g + 1) * c - 1)
                for axis, g, c in zip(_AXES, key[1:], chunks)
            )
        ]
        voxel_bytes = int(np.prod(chunks)) * self.store.dtype.itemsize
        return _group_chunks(keys, voxel_bytes, self.target)

    def read(self, partition: _ChunkPartition):
        cz, cy, cx = self.store.chunks
        for key in partition.chunks:
            arr = self.store.read(key, self.verify)
            zz, yy, xx = np.indices(arr.shape)
            yield _voxel_batch(
                (zz + key[1] * cz).ravel(),
                (yy + key[2] * cy).ravel(),
                (xx + key[3] * cx).ravel(),
                arr.astype(np.int64).ravel(),
            )


class _ChunkReader(_PushdownMixin, _ChunkReaderNoPushdown):
    pass


class N5VolumeDataSource(DataSource):
    """``spark.read.format("n5_volume").load(dataset_dir)``. Both
    chunk-store names read any N5 dataset or Zarr v2/v3 array: the
    store's own metadata decides how it decodes."""

    _reader = _ChunkReader

    @classmethod
    def name(cls) -> str:
        return "n5_volume"

    def schema(self) -> str:
        return VOXEL_DDL

    def reader(self, schema) -> _ChunkReaderNoPushdown:
        return self._reader(dict(self.options))


class ZarrVolumeDataSource(N5VolumeDataSource):
    """``spark.read.format("zarr_volume").load(array_dir)``."""

    @classmethod
    def name(cls) -> str:
        return "zarr_volume"


def _sorted_slices(
    paths: list[str], suffix: str, channel: str | None = None
) -> list[str]:
    """The slices among a directory's listing (``_list_files``), sorted:
    sorted paths == z order (the reference's ``img_files.sort()``,
    tiff2octree.py:1034 — F2 semantics).

    ``channel`` selects one channel of a multi-channel slice dir by
    the reference's ``default.{ch}.{z}`` naming — without it a
    2-channel directory would sort channel-major and assign wrong z
    indices to the second channel's files."""
    files = (p for p in paths if p.partition("?")[0].endswith(suffix))
    if channel is not None:
        prefix = f"default.{channel}."
        files = (
            p for p in files
            if p.partition("?")[0].rsplit("/", 1)[-1].startswith(prefix)
        )
    return sorted(files)


def _requant_float_pages(pages: np.ndarray) -> np.ndarray:
    """float32 [0,1] pages -> uint16, skimage ``img_as_uint``
    semantics (the conversion the reference's float32 branch rides,
    tiff2octree.py:250-251): scale by 65535 with round-half-even;
    out-of-range values clip instead of raising (crawl data carries
    them), NaN means "no data" and maps to 0 like the reference's
    zeros-are-missing convention (ktx/util.py:151-158)."""
    v = np.nan_to_num(pages, nan=0.0, posinf=1.0, neginf=0.0)
    return np.rint(np.clip(v, 0.0, 1.0) * 65535.0).astype(np.uint16)


def _is_jp2(path: str) -> bool:
    return path.partition("?")[0].lower().endswith((".jp2", ".j2k", ".jpf"))


def _named(path: str, parse, data: bytes):
    """``parse(data)``, with a parse error re-raised (same class,
    chained) under a message that starts with the file's path."""
    try:
        return parse(data)
    except ValueError as exc:
        raise type(exc)(f"{path}: {exc}") from exc


def _slice_shape(path: str, data: bytes) -> tuple[int, int]:
    """(height, width) of one slice file's bytes from its header walk
    (TIFF IFD or JP2 ihdr box; no payload decode). A file that is not
    one single-sample page raises, naming it."""
    if _is_jp2(path):
        from hortacloud_importer_spark.sources.jp2 import jp2_shape

        h, w, n = _named(path, jp2_shape, data)
        what = "components"
    else:
        from hortacloud_importer_spark.sources.tiff import tiff_shape

        n, h, w = _named(path, tiff_shape, data)
        what = "pages"
    if n != 1:
        raise ValueError(
            f"slice file {path} has {n} {what}; one single-sample z-slice "
            "per file expected (stacks go through listing.stack_volume)"
        )
    return h, w


def _decode_slice_pages(
    data: bytes, path: str, float_mode: str = "raise"
) -> np.ndarray:
    """One slice file -> (pages, h, w, samples), dispatched on the
    file extension: TIFF via the built-in clean-room codec, JPEG 2000
    via the clean-room codec (sources/jp2.py; the reference reads
    .jp2 slices through rasterio, tiff2octree.py:673-678).

    ``float_mode`` is the voxel-boundary policy for float32 pages
    (TIFF SampleFormat 3 — the reference accepts float32 stacks,
    tiff2octree.py:250-251): ``"requant"`` converts them to uint16 at
    ingest via :func:`_requant_float_pages`; the ``"raise"`` default
    keeps the integer voxel model strict and names the knob."""
    if _is_jp2(path):
        from hortacloud_importer_spark.sources.jp2 import decode_jp2

        pages = _named(path, decode_jp2, data)
        # executor-side dual of the plan-time check_jp2_uint16 probe:
        # whatever the codec returned must FIT the uint16 voxel model
        # (TIFF ingest gets this from _page_dtype + the float gate
        # below) — reject rather than wrap
        if pages.dtype.kind != "u" or pages.dtype.itemsize > 2:
            raise ValueError(
                f"{path}: decoded JP2 samples are {pages.dtype}; "
                "octree ingest supports unsigned <=16-bit samples only"
            )
        return pages
    from hortacloud_importer_spark.sources.tiff import decode_tiff

    return _integer_samples(path, _named(path, decode_tiff, data), float_mode)


def _integer_samples(path: str, arr: np.ndarray, float_mode: str) -> np.ndarray:
    """Float samples requantized to uint16 or refused (``float_mode``);
    integer samples as they are."""
    if arr.dtype.kind != "f":
        return arr
    if float_mode == "requant":
        return _requant_float_pages(arr)
    raise ValueError(
        f"{path}: float32 samples need float_mode='requant' "
        "(uint16 requant at ingest); the voxel model is integer"
    )


def _check_one_page(path: str, shape: tuple[int, int, int, int]) -> None:
    """A slice file is one single-sample page: (pages, h, w, samples)."""
    if shape[0] != 1 or shape[3] != 1:
        raise ValueError(
            f"{path}: slice file has shape {tuple(shape)}; one single-sample "
            "z-slice per file expected (stacks/channels go through "
            "queries/scans.py)"
        )


def _slice_array(data: bytes, path: str = ".tif",
                 float_mode: str = "raise") -> np.ndarray:
    """One z-slice file -> its 2-D page."""
    pages = _decode_slice_pages(data, path, float_mode)
    _check_one_page(path, pages.shape)
    return pages[0, :, :, 0]


def _voxel_axes(z: int, arr: np.ndarray):
    """A decoded z-slice page -> (z, y, x, intensity) voxel columns."""
    yy, xx = np.indices(arr.shape)
    return (
        np.full(arr.size, z, dtype=np.int64),
        yy.ravel(),
        xx.ravel(),
        arr.astype(np.int64).ravel(),
    )


def _slice_batch(z: int, arr: np.ndarray) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [
            pa.array([z], type=pa.int64()),
            pa.array([arr.shape[0]], type=pa.int32()),
            pa.array([arr.shape[1]], type=pa.int32()),
            pa.array([arr.astype(np.int64).ravel()],
                     type=pa.list_(pa.int64())),
        ],
        names=["z", "height", "width", "voxels"],
    )


@dataclass
class _SlicePartition(InputPartition):
    slices: list[tuple[str, int]]  # (path, z)
    # (path, (height, width)) of the volume's first slice, when known
    first: tuple[str, tuple[int, int]] | None = None


def _read_slice(
    path: str,
    first: tuple[str, tuple[int, int]] | None,
    float_mode: str = "raise",
    window: tuple[int, int, int, int] | None = None,
    stats: dict | None = None,
) -> np.ndarray:
    """Read one z-slice file by path and decode its page, or only the
    ``window`` (y0, y1, x0, x1; clipped to the page) of it. Every slice
    of a volume must be one single-sample page with the shape of
    ``first`` (the volume's first slice and its shape, when known): a
    different one fails the read, naming the file and both shapes,
    instead of being cropped or zero-padded into the volume
    downstream. Decode errors keep the codec's named class and start
    with the path.

    A TIFF is read by seek: its header walk checks the page count and
    shape, then only the strips or tiles the window touches are
    fetched and decoded (only the rows of an uncompressed strip). A
    JPEG 2000 slice decodes whole and is cropped. ``stats`` counts the
    payload bytes read (``bytes_read``) against the slice's
    (``bytes_total``)."""
    if _is_jp2(path):
        data = _read_bytes(path)
        arr = _slice_array(data, path, float_mode)
        _check_slice_shape(path, arr.shape, first)
        if stats is not None:
            stats["bytes_read"] = stats.get("bytes_read", 0) + len(data)
            stats["bytes_total"] = stats.get("bytes_total", 0) + len(data)
        if window is None:
            return arr
        y0, y1, x0, x1 = window
        return arr[y0:y1, x0:x1]
    from hortacloud_importer_spark.sources.tiff import decode_stack_page

    filesystem, p = _pa_fs(path)
    with filesystem.open_input_file(p) as fh:
        ec, ifds, shape = _tiff_slice_header(path, fh)
        _check_slice_shape(path, shape, first)
        arr = _named(
            path,
            lambda f: decode_stack_page(f, ec, ifds[0], window, stats),
            fh,
        )[..., 0]
    return _integer_samples(path, arr, float_mode)


def _tiff_slice_header(path: str, fh) -> tuple[str, list[dict], tuple[int, int]]:
    """A TIFF slice's IFD walk by seek over its opened file ``fh``:
    (endian, page table, (height, width)). A file that is not one
    single-sample page raises, naming it."""
    from hortacloud_importer_spark.sources.tiff import page_shape, tiff_page_table

    ec, ifds = _named(path, tiff_page_table, fh)
    h, w, spp = _named(path, page_shape, ifds[0])
    _check_one_page(path, (len(ifds), h, w, spp))
    return ec, ifds, (h, w)


def _slice_file_shape(path: str) -> tuple[int, int]:
    """(height, width) of one slice file from its header. A TIFF's IFD
    chain is walked by seek, so only its header is fetched; a JPEG
    2000 slice is read whole for its ihdr box and must pass
    ``check_jp2_uint16``. A file that is not one single-sample page
    raises, naming it."""
    if _is_jp2(path):
        from hortacloud_importer_spark.sources.jp2 import check_jp2_uint16

        data = _read_bytes(path)
        shape = _slice_shape(path, data)
        check_jp2_uint16(data, path)
        return shape
    filesystem, p = _pa_fs(path)
    with filesystem.open_input_file(p) as fh:
        return _tiff_slice_header(path, fh)[2]


def _check_slice_shape(
    path: str,
    shape: tuple[int, int],
    first: tuple[str, tuple[int, int]] | None,
) -> None:
    if first is not None and tuple(shape) != tuple(first[1]):
        raise ValueError(
            f"{path}: slice shape {tuple(shape)} differs from the first "
            f"slice {first[0]}, {first[1]}; every slice of a volume must "
            "have one shape"
        )


def _slice_batches(partition: _SlicePartition, emit: str, float_mode: str):
    """Decode a partition's slices (:func:`_read_slice`), one Arrow
    batch each."""
    for path, z in partition.slices:
        arr = _read_slice(path, partition.first, float_mode)
        if emit == "slices":
            yield _slice_batch(z, arr)
        else:
            yield _voxel_batch(*_voxel_axes(z, arr))


class _TiffSliceReaderNoPushdown(DataSourceReader):
    def __init__(self, options: dict):
        self.root = options["path"].rstrip("/")
        self.suffix = options.get("suffix", ".tif")
        self.channel = options.get("channel")
        self.per_partition = int(options.get("slices_per_partition", 1))
        self.emit = options.get("emit", "voxels")
        self.float_mode = options.get("float_mode", "raise")
        self.bounds = _Bounds()

    def partitions(self):
        listed = _sorted_slices(
            _list_files(self.root), self.suffix, self.channel
        )
        files = [
            (p, z) for z, p in enumerate(listed) if self.bounds.admits("z", z, z)
        ]
        # the first slice's header fixes the volume's page shape
        first = None
        if files:
            head = _read_bytes(listed[0])
            first = (listed[0], _slice_shape(listed[0], head))
        per = max(1, self.per_partition)
        return [
            _SlicePartition(files[i : i + per], first)
            for i in range(0, len(files), per)
        ] or [_SlicePartition([])]

    def read(self, partition: _SlicePartition):
        return _slice_batches(partition, self.emit, self.float_mode)


class _TiffSliceReader(_PushdownMixin, _TiffSliceReaderNoPushdown):
    pass


class _TiffSliceStreamReader(DataSourceStreamReader):
    """Ordered z-slice micro-batch source (I1). Offset = number of
    slices consumed; files appended later (higher sort order) are
    picked up by subsequent batches.

    Partition-planning variant: the driver only ever lists file names
    (metadata); each planned partition decodes its slice inside
    ``read()`` on an executor and yields one Arrow batch — the same
    executor-side decode path as the batch reader, so no slice payload
    visits the driver (the reference streams slices the same way,
    ktx_from_rendered_tiff.py:331-342)."""

    def __init__(self, options: dict):
        self.root = options["path"].rstrip("/")
        self.suffix = options.get("suffix", ".tif")
        self.channel = options.get("channel")
        self.per_batch = int(options.get("max_slices_per_batch", 8))
        self.emit = options.get("emit", "voxels")
        self.float_mode = options.get("float_mode", "raise")
        # High-water mark already offered to Spark; keeps each
        # micro-batch bounded to per_batch slices no matter how large
        # the directory backlog is.
        self._advanced = 0

    def initialOffset(self) -> dict:
        return {"n": 0}

    def latestOffset(self) -> dict:
        total = len(
            _sorted_slices(_list_files(self.root), self.suffix, self.channel)
        )
        # never move backward: _advanced is floored at every offset
        # Spark has already shown us (partitions()/commit() raise it on
        # restart), so a fresh reader instance cannot offer an offset
        # below the checkpointed commit even if total shrank
        self._advanced = max(
            self._advanced, min(total, self._advanced + self.per_batch)
        )
        return {"n": self._advanced}

    def partitions(self, start: dict, end: dict):
        a, b = int(start["n"]), int(end["n"])
        # On checkpoint restart Spark replans the pending batch without
        # calling latestOffset; keep the high-water mark consistent.
        self._advanced = max(self._advanced, b)
        files = _sorted_slices(
            _list_files(self.root), self.suffix, self.channel
        )[a:b]
        return [
            _SlicePartition([(p, a + i)]) for i, p in enumerate(files)
        ] or [_SlicePartition([])]

    def read(self, partition: _SlicePartition):
        return _slice_batches(partition, self.emit, self.float_mode)

    def commit(self, end: dict) -> None:
        # restart path: Spark commits recovered batches before asking
        # for a new latestOffset — floor the high-water mark here so a
        # fresh reader never offers an offset below the checkpoint
        self._advanced = max(self._advanced, int(end["n"]))


SLICE_DDL = "z bigint, height int, width int, voxels array<bigint>"


class TiffVolumeDataSource(DataSource):
    """``spark.read.format("tiff_volume").load(slice_dir)`` (batch) or
    ``spark.readStream.format("tiff_volume")`` (ordered z stream).

    ``option("emit", "slices")`` switches the row grain from one row
    per voxel to one row per z-slice (z, height, width, voxels) — the
    reference's streaming unit (ktx_from_rendered_tiff.py:331-342),
    directly consumable by streaming/cascade.py::streaming_cascade."""

    @classmethod
    def name(cls) -> str:
        return "tiff_volume"

    def schema(self) -> str:
        if self.options.get("emit", "voxels") == "slices":
            return SLICE_DDL
        return VOXEL_DDL

    def reader(self, schema) -> _TiffSliceReader:
        return _TiffSliceReader(dict(self.options))

    def streamReader(self, schema) -> _TiffSliceStreamReader:
        return _TiffSliceStreamReader(dict(self.options))


# --- per-file block writes --------------------------------------------------
#
# One implementation of a block file write, shared by the executor
# kernels of pipelines/octree.py and pipelines/ktx.py, which write their
# own files (sources/manifest.py::staged_output) and hand the driver
# only the relative names to commit.


def write_tiff_block(
    filesystem,
    base: str,
    vol: np.ndarray,
    zi: int,
    yi: int,
    xi: int,
    channel: int,
    depth: int,
    dtype: str = "uint16",
    skip_empty: bool = True,
    made_dirs: set[str] | None = None,
) -> str | None:
    """Write one (z, y, x) block as ``{octree-path}/default.{ch}.tif``
    (ZLIB, the reference's save_block, tiff2octree.py:298-317) under
    ``base``; ``depth`` is the store depth of the block's level (digit
    count + 1, so 1 = the root). Returns the relative path, or None
    for a skipped all-zero block. ``made_dirs`` caches directories
    this task already created. Values outside an integer ``dtype``'s
    range raise ValueError instead of wrapping."""
    from hortacloud_importer_spark.sources.tiff import encode_tiff

    if skip_empty and (vol.size == 0 or vol.max() <= 0):
        return None
    rel = tiff_block_rel(zi, yi, xi, channel, depth)
    if vol.size and np.issubdtype(np.dtype(dtype), np.integer):
        info = np.iinfo(dtype)
        lo, hi = vol.min(), vol.max()
        if hi > info.max or lo < info.min:
            raise ValueError(
                f"block {rel} holds values in [{lo}, {hi}], outside "
                f"{dtype}'s range [{info.min}, {info.max}]; requantize "
                f"the source to {dtype} before the build"
            )
    path = f"{base}/{rel}"
    target_dir = path.rpartition("/")[0]
    if made_dirs is None or target_dir not in made_dirs:
        filesystem.create_dir(target_dir, recursive=True)
        if made_dirs is not None:
            made_dirs.add(target_dir)
    with manifest.staged_output(filesystem, path) as fh:
        fh.write(encode_tiff(vol.astype(dtype), compression="zlib"))
    return rel


def write_ktx_block(
    filesystem,
    base: str,
    zi: int,
    yi: int,
    xi: int,
    depth: int,
    channel: int,
    ktx: bytes,
    lz4: bool = False,
) -> str:
    """Write one encoded KTX blob as ``block_{z}_{y}_{x}[_d{depth}]_ch{c}.ktx``
    (``.ktx.lz4`` LZ4-frame compressed with ``lz4``, the reference's
    LZ4.exe post-pass, ktx_from_rendered_tiff.py:565-583) directly
    under ``base``; ``depth`` 0 means a single-level store. Returns the
    file name. The caller creates ``base``."""
    from hortacloud_importer_spark.sources.ktx import ktx_block_name

    name = ktx_block_name(zi, yi, xi, depth, channel, lz4=lz4)
    blob = bytes(ktx)
    if lz4:
        from hortacloud_importer_spark.sources.codecs import lz4_frame_compress

        blob = lz4_frame_compress(blob)
    with manifest.staged_output(filesystem, f"{base}/{name}") as fh:
        fh.write(blob)
    return name


class N5VolumeDataSourceNoPushdown(N5VolumeDataSource):
    _reader = _ChunkReaderNoPushdown


class ZarrVolumeDataSourceNoPushdown(ZarrVolumeDataSource):
    _reader = _ChunkReaderNoPushdown


class TiffVolumeDataSourceNoPushdown(TiffVolumeDataSource):
    def reader(self, schema) -> _TiffSliceReaderNoPushdown:
        return _TiffSliceReaderNoPushdown(dict(self.options))


_SOURCES = (
    N5VolumeDataSource,
    ZarrVolumeDataSource,
    TiffVolumeDataSource,
)

# Same format names, readers without pushFilters — registered when the
# session cannot enable spark.sql.python.filterPushdown.enabled (chunk
# pruning lost, results identical: Spark applies all filters row-level).
_SOURCES_NO_PUSHDOWN = (
    N5VolumeDataSourceNoPushdown,
    ZarrVolumeDataSourceNoPushdown,
    TiffVolumeDataSourceNoPushdown,
)

_PUSHDOWN_CONF = "spark.sql.python.filterPushdown.enabled"


def _enable_filter_pushdown(spark) -> bool:
    """Turn on Python DataSource filter pushdown for this session.

    It is a runtime SQL conf, so ``spark.conf.set`` works on a vanilla
    ``SparkSession.builder`` session (the driver's case). Returns
    whether pushdown readers may be planned."""
    try:
        spark.conf.set(_PUSHDOWN_CONF, "true")
        return True
    except Exception:
        try:
            return str(spark.conf.get(_PUSHDOWN_CONF)).lower() == "true"
        except Exception:
            return False


def register_volume_sources(spark) -> None:
    """Register all volume formats on this session (idempotent —
    re-registration overwrites with the same class).

    Enables ``spark.sql.python.filterPushdown.enabled`` first: Spark
    refuses to plan a Python DataSource whose reader overrides
    ``pushFilters`` while that conf is off. If the conf cannot be set
    (e.g. a locked-down session), falls back to registering readers
    without ``pushFilters`` — chunk pruning is lost but results are
    identical because every filter is re-applied row-level anyway."""
    sources = _SOURCES if _enable_filter_pushdown(spark) else _SOURCES_NO_PUSHDOWN
    for cls in sources:
        try:
            spark.dataSource.register(cls)
        except Exception as exc:  # cloned sessions inherit the registry:
            # same-session re-register overwrites (WARN), but a session
            # created via newSession() raises DATA_SOURCE_ALREADY_EXISTS
            # for names inherited from its parent — the format is already
            # usable there, so that error is not a failure.
            if "DATA_SOURCE_ALREADY_EXISTS" not in str(exc):
                raise
