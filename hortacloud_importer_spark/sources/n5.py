"""Clean-room N5 / Zarr chunk stores (SURVEY §2.A1/A3).

The reference's third front door is ``n5_zarr_to_dask_array``
(tiff2octree.py:779-823): open a Zarr array or N5 dataset, read shape/
dtype, then window-read chunks lazily. Here :func:`chunk_store` opens a
store once on the driver: it probes the metadata files in the
reference's order, validates them, and returns a :class:`ChunkStore`
that lists the chunk keys (one recursive pyarrow listing) and decodes
one chunk by path. The octree build's listed volumes
(sources/listing.py: ``store_volume``, ``hierarchy_volume``), the
``n5_volume``/``zarr_volume`` DataSources (sources/datasource.py),
``pipelines.crop.crop_chunk_store`` and the CLI all open stores
through it. Every read goes through pyarrow, so local, ``s3://`` and
``s3a://`` roots behave alike. The container formats are public specs:

- **N5** (github.com/saalfeldlab/n5): ``attributes.json`` with
  ``dimensions`` (x fastest), ``blockSize``, ``dataType``,
  ``compression``; chunk files ``<x>/<y>/<z>`` with a
  big-endian header (mode uint16, ndim uint16, int32 dims) and
  big-endian payload in x-fastest order.
- **Zarr v2**: ``.zarray`` with C-ordered ``shape``/``chunks``,
  numpy dtype string, ``compressor``; chunk files ``<i>.<j>.<k>``
  (slowest dimension first), full chunk size with fill overflow.
- **Zarr v3**: ``zarr.json`` with a codec chain, ``c/<i>/<j>/<k>``
  (or ``v2``-encoded) chunk keys and optional ZEP-2 sharding.

Chunk payloads decode through sources/codecs.py: the full standard
N5 codec set (raw, gzip incl. ``useZlib``, bzip2, lz4-java block
streams, xz) and the Zarr-v2 numcodecs set (blosc — the Zarr
default — lz4, zstd, gzip, zlib, bz2, lzma). The two ``lz4`` ids are
DIFFERENT formats (N5 wraps chunks in lz4-java block streams, Zarr's
numcodecs prefixes one raw LZ4 block with its size), which is why the
dispatch is per-container. The full blosc matrix decodes in-container:
blosclz, lz4, zlib, zstd, snappy with byte- or bit-shuffle.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np
from pyarrow import fs as pafs

from hortacloud_importer_spark.sources.datasource import _pa_fs, _read_bytes


class ChunkStoreError(ValueError):
    pass


_N5_DTYPES = {
    "uint8": ">u1",
    "uint16": ">u2",
    "uint32": ">u4",
    "uint64": ">u8",
    "int8": ">i1",
    "int16": ">i2",
    "int32": ">i4",
    "int64": ">i8",
}


def n5_chunk_array(
    raw: bytes, codec: str, np_dtype, block_xyz, verify: bool = False
) -> np.ndarray:
    """Decode one N5 chunk file -> its (z, y, x) ndarray (possibly
    smaller than blockSize at the edge — N5 stores true dims in the
    chunk header).

    The header is validated BEFORE any array is built: one corrupt
    chunk among billions must fail fast with a clear error, not spin
    allocating a garbage-sized ndarray (a truncated header once parsed
    to a 1.9-billion-element dim and hung ``np.indices``)."""
    ndim = int.from_bytes(raw[2:4], "big")
    hdr_end = 4 + 4 * ndim
    if ndim != len(block_xyz) or len(raw) < hdr_end:
        raise ChunkStoreError(
            f"corrupt N5 chunk header: ndim={ndim}, {len(raw)} bytes"
        )
    bdims_xyz = [
        int.from_bytes(raw[4 + 4 * i : 8 + 4 * i], "big") for i in range(ndim)
    ]
    if any(d < 1 or d > b for d, b in zip(bdims_xyz, block_xyz)):
        raise ChunkStoreError(
            f"corrupt N5 chunk header: block dims {bdims_xyz} "
            f"outside dataset blockSize {list(block_xyz)}"
        )
    from hortacloud_importer_spark.sources.codecs import n5_decompress

    payload = n5_decompress(raw[hdr_end:], codec, verify=verify)
    n_expected = int(np.prod(bdims_xyz))
    if len(payload) != n_expected * np.dtype(np_dtype).itemsize:
        raise ChunkStoreError(
            f"corrupt N5 chunk payload: {len(payload)} bytes for "
            f"{n_expected} x {np.dtype(np_dtype).itemsize}-byte elements"
        )
    # x-fastest payload == C-order over reversed (z, y, x)
    return np.frombuffer(payload, dtype=np_dtype).reshape(
        list(reversed(bdims_xyz))
    )


def n5_meta(attrs: dict) -> tuple[list[int], list[int], str, str]:
    """Validate attributes.json -> (dims_xyz, block_xyz, codec, np_dtype)."""
    dims_xyz = attrs["dimensions"]  # x fastest per the N5 spec
    block_xyz = attrs["blockSize"]
    comp = attrs.get("compression") or {"type": "raw"}
    codec = comp["type"]
    if codec == "gzip" and comp.get("useZlib"):
        codec = "zlib"  # N5 GzipCompression(useZlib=true) = zlib framing
    np_dtype = _N5_DTYPES.get(attrs["dataType"])
    if np_dtype is None:
        raise ChunkStoreError(f"unsupported N5 dataType {attrs['dataType']!r}")
    if len(dims_xyz) != 3:
        raise ChunkStoreError("only 3-D N5 datasets supported")
    return dims_xyz, block_xyz, codec, np_dtype


def zarr_meta(
    meta: dict,
) -> tuple[list[int], list[int], str, str, "np.dtype", str, int | float]:
    """Validate .zarray -> (shape_zyx, chunks_zyx, codec, order,
    dtype, sep, fill_value). A ``null`` fill (v2's "undefined")
    normalizes to 0 — this engine's no-data value."""
    if int(meta.get("zarr_format", 2)) != 2:
        raise ChunkStoreError("only zarr v2 supported")
    shape = meta["shape"]  # C order: z, y, x
    chunks_zyx = meta["chunks"]
    if len(shape) != 3:
        raise ChunkStoreError("only 3-D zarr arrays supported")
    comp = meta.get("compressor")
    codec = "raw" if comp is None else comp.get("id", "raw")
    order = meta.get("order", "C")
    np_dtype = np.dtype(meta["dtype"])
    sep = meta.get("dimension_separator", ".")
    fill = meta.get("fill_value", 0)
    if fill is None:
        fill = 0
    if not isinstance(fill, (int, float)) or isinstance(fill, bool):
        # v2 allows "NaN"/"Infinity" strings and base64 for raw dtypes
        raise ChunkStoreError(f"unsupported fill_value {fill!r}")
    return shape, chunks_zyx, codec, order, np_dtype, sep, fill


def zarr_chunk_array(
    raw: bytes, codec: str, np_dtype, chunks_zyx, order: str
) -> np.ndarray:
    """Decode one Zarr chunk payload -> its full-size (z, y, x)
    ndarray (Zarr stores edge chunks full-size; callers clip)."""
    from hortacloud_importer_spark.sources.codecs import zarr_decompress

    payload = zarr_decompress(raw, codec)
    n_expected = int(np.prod(chunks_zyx))
    if len(payload) != n_expected * np.dtype(np_dtype).itemsize:
        raise ChunkStoreError(
            f"corrupt Zarr chunk payload: {len(payload)} bytes for "
            f"{n_expected} x {np.dtype(np_dtype).itemsize}-byte elements"
        )
    return np.frombuffer(payload, dtype=np_dtype).reshape(
        chunks_zyx, order=order
    )


_V3_DTYPES = {
    "uint8": "u1",
    "uint16": "u2",
    "uint32": "u4",
    "uint64": "u8",
    "int8": "i1",
    "int16": "i2",
    "int32": "i4",
    "int64": "i8",
    "float32": "f4",
    "float64": "f8",
}


def zarr3_meta(
    meta: dict,
) -> tuple[list[int], list[int], "np.dtype", list, str, dict | None, dict]:
    """Validate zarr.json (Zarr v3 array metadata, the zarr-python 3.x
    default) -> (shape_zyx, chunks_zyx, numpy dtype, bytes->bytes
    codec list, chunk-key separator, shard spec or None).

    Supported codec chains: one array->bytes ``bytes`` codec (endian
    from its configuration) followed by any of the registered
    bytes->bytes codecs ``blosc``/``gzip``/``zstd`` (decoded through
    sources/codecs.py — blosc's container is self-describing) and
    ``crc32c`` (trailing 4-byte checksums are stripped; Castagnoli
    verification is skipped, like the lz4-java block checksums); OR a
    top-level ``sharding_indexed`` codec (ZEP-2 — the v3 layout built
    FOR 100 TB stores: outer chunks are shard objects holding an
    inner-chunk grid plus a uint64 offset/nbytes footer index), whose
    inner chain is validated by the same rule. A ``transpose``
    array->array codec may precede ``bytes`` in either chain; its
    axis permutation is undone at decode. The sixth element of the
    return is the shard spec dict (inner_zyx / codecs / index_codecs
    / index_location), or None for unsharded arrays; the seventh is
    ``{"fill": fill_value, "transpose": order-or-None}`` for the
    unsharded chunk chain."""
    if int(meta.get("zarr_format", 0)) != 3 or meta.get("node_type") != "array":
        raise ChunkStoreError("not a Zarr v3 array (zarr.json)")
    shape = meta["shape"]
    if len(shape) != 3:
        raise ChunkStoreError("only 3-D zarr arrays supported")
    grid = meta.get("chunk_grid", {})
    if grid.get("name") != "regular":
        raise ChunkStoreError(f"unsupported chunk_grid {grid.get('name')!r}")
    chunks_zyx = grid["configuration"]["chunk_shape"]
    base = _V3_DTYPES.get(meta.get("data_type"))
    if base is None:
        raise ChunkStoreError(f"unsupported data_type {meta.get('data_type')!r}")

    def _split_chain(codecs: list, where: str):
        transpose = None
        if codecs and codecs[0].get("name") == "transpose":
            order = (codecs[0].get("configuration") or {}).get("order")
            if not isinstance(order, list) or sorted(order) != [0, 1, 2]:
                raise ChunkStoreError(
                    f"transpose codec in {where} chain needs an 'order' "
                    f"permutation of [0, 1, 2] (got {order!r})"
                )
            transpose = [int(o) for o in order]
            codecs = codecs[1:]
        if not codecs or codecs[0].get("name") != "bytes":
            raise ChunkStoreError(
                f"{where} codec chain must continue with the 'bytes' "
                "array->bytes codec (got "
                f"{codecs[0].get('name') if codecs else 'nothing'!r})"
            )
        endian = (codecs[0].get("configuration") or {}).get("endian", "little")
        bb = codecs[1:]
        for c in bb:
            if c.get("name") not in ("blosc", "gzip", "zstd", "crc32c"):
                raise ChunkStoreError(
                    f"unsupported Zarr v3 codec {c.get('name')!r} in "
                    f"{where} chain (blosc/gzip/zstd/crc32c are built in)"
                )
        return endian, bb, transpose

    fill = meta.get("fill_value", 0)
    if fill is None:
        fill = 0
    if not isinstance(fill, (int, float)) or isinstance(fill, bool):
        raise ChunkStoreError(f"unsupported fill_value {fill!r}")
    codecs = list(meta.get("codecs", []))
    shard = None
    transpose = None
    if codecs and codecs[0].get("name") == "sharding_indexed":
        if len(codecs) > 1:
            raise ChunkStoreError(
                "codecs after sharding_indexed are not supported"
            )
        cfg = codecs[0].get("configuration") or {}
        if "chunk_shape" not in cfg:
            raise ChunkStoreError(
                "sharding_indexed configuration lacks chunk_shape"
            )
        inner_zyx = cfg["chunk_shape"]
        if any(o % i for o, i in zip(chunks_zyx, inner_zyx)):
            raise ChunkStoreError(
                f"shard shape {chunks_zyx} is not a multiple of inner "
                f"chunk shape {inner_zyx}"
            )
        endian, bb_inner, t_inner = _split_chain(
            list(cfg.get("codecs", [])), "shard inner"
        )
        # the index decoder hardcodes LE uint64 pairs (+ optional
        # crc32c suffix) — gate any other spec-legal index chain
        # (big-endian, compressed index) rather than decode garbage
        idx_codecs = list(
            cfg.get(
                "index_codecs",
                [{"name": "bytes", "configuration": {"endian": "little"}}],
            )
        )
        idx_names = [c.get("name") for c in idx_codecs]
        idx_endian = (
            (idx_codecs[0].get("configuration") or {}).get("endian", "little")
            if idx_names and idx_names[0] == "bytes"
            else None
        )
        if (
            idx_names not in (["bytes"], ["bytes", "crc32c"])
            or idx_endian != "little"
        ):
            raise ChunkStoreError(
                f"unsupported shard index_codecs {idx_names} "
                "(little-endian bytes [+ crc32c] is built in)"
            )
        shard = {
            "inner_zyx": list(inner_zyx),
            "codecs": bb_inner,
            "transpose": t_inner,
            "index_crc32c": "crc32c" in idx_names,
            "index_location": cfg.get("index_location", "end"),
            "fill": fill,
        }
        bb = []  # the shard decoder applies the inner chain itself
    else:
        endian, bb, transpose = _split_chain(codecs, "array")
    np_dtype = np.dtype(("<" if endian == "little" else ">") + base)
    kenc = meta.get("chunk_key_encoding", {"name": "default"})
    kname = kenc.get("name", "default")
    # v3 spec ships two encodings: "default" = c/<i>/<j>/<k> (sep
    # "/" or "."), "v2" = bare <i>.<j>.<k> Zarr-v2-style keys (default
    # sep "." — what `zarr.config` migrations of old stores produce)
    if kname == "default":
        sep = (kenc.get("configuration") or {}).get("separator", "/")
    elif kname == "v2":
        sep = (kenc.get("configuration") or {}).get("separator", ".")
    else:
        raise ChunkStoreError(
            f"unsupported chunk_key_encoding {kname!r} "
            "('default' and 'v2' are built in)"
        )
    return shape, chunks_zyx, np_dtype, bb, sep, shard, {
        "fill": fill,
        "transpose": transpose,
        "kenc": kname,
    }


def zarr3_chunk_bytes(
    raw: bytes,
    bb_codecs: list,
    transpose: list | None = None,
    chunk_zyx=None,
    np_dtype=None,
    verify: bool = False,
) -> bytes:
    """Undo the bytes->bytes codec chain (reverse order), then undo a
    ``transpose`` array->array permutation if the chain declared one
    (the stored bytes are C-order over the PERMUTED chunk shape;
    ``chunk_zyx``/``np_dtype`` are required in that case to reshape).
    ``verify=True`` checks crc32c trailers (Castagnoli, the zarr v3
    ``crc32c`` codec) instead of just stripping them — opt-in because
    the table-driven Python CRC costs ~the decode itself."""
    from hortacloud_importer_spark.sources.codecs import (
        blosc_decompress,
        crc32c,
        zarr_decompress,
    )

    for c in reversed(bb_codecs):
        name = c.get("name")
        if name == "crc32c":
            if len(raw) < 4:
                raise ChunkStoreError("crc32c codec: payload under 4 bytes")
            if verify:
                want = int.from_bytes(raw[-4:], "little")
                got = crc32c(raw[:-4])
                if got != want:
                    raise ChunkStoreError(
                        f"crc32c mismatch: stored {want:#010x}, "
                        f"computed {got:#010x}"
                    )
            raw = raw[:-4]
        elif name == "blosc":
            raw = blosc_decompress(raw)
        else:  # gzip / zstd, validated by zarr3_meta
            raw = zarr_decompress(raw, name)
    if transpose is not None:
        pshape = [int(chunk_zyx[o]) for o in transpose]
        want = int(np.prod(pshape)) * np.dtype(np_dtype).itemsize
        if len(raw) != want:
            raise ChunkStoreError(
                f"transposed chunk decoded to {len(raw)} bytes, "
                f"wanted {want}"
            )
        arr = np.frombuffer(raw, dtype=np_dtype).reshape(pshape)
        inv = np.argsort(transpose)
        raw = np.ascontiguousarray(arr.transpose(tuple(inv))).tobytes()
    return raw


def zarr3_shard_bytes(
    raw: bytes, shard: dict, outer_zyx, np_dtype, verify: bool = False
) -> bytes:
    """One shard object (ZEP-2 sharding_indexed) -> the outer chunk's
    raw C-order bytes. The footer (or header) index holds one uint64
    little-endian (offset, nbytes) pair per inner chunk in C-order
    over the intra-shard grid; 2^64-1 marks a missing chunk (filled
    with zero, this engine's no-data value)."""
    iz, iy, ix = shard["inner_zyx"]
    oz, oy, ox = outer_zyx
    nz, ny, nx = oz // iz, oy // iy, ox // ix
    n_inner = nz * ny * nx
    index_size = 16 * n_inner + (4 if shard["index_crc32c"] else 0)
    if len(raw) < index_size:
        raise ChunkStoreError(
            f"shard of {len(raw)} bytes shorter than its "
            f"{index_size}-byte index"
        )
    if shard["index_location"] == "start":
        index = raw[:index_size]
    else:
        index = raw[-index_size:]
    pairs = np.frombuffer(index[: 16 * n_inner], dtype="<u8").reshape(-1, 2)
    # missing inner chunks materialize as the array's declared
    # fill_value, not an assumed zero
    out = np.full(
        (oz, oy, ox), shard["fill"], dtype=np_dtype.newbyteorder("=")
    )
    missing = np.uint64(0xFFFFFFFFFFFFFFFF)
    k = 0
    for gz in range(nz):
        for gy in range(ny):
            for gx in range(nx):
                off, nbytes = pairs[k]
                k += 1
                if off == missing:
                    continue
                payload = raw[int(off) : int(off) + int(nbytes)]
                if len(payload) != int(nbytes):
                    raise ChunkStoreError(
                        f"inner chunk {gz},{gy},{gx} overruns the shard"
                    )
                dec = zarr3_chunk_bytes(
                    payload,
                    shard["codecs"],
                    shard.get("transpose"),
                    (iz, iy, ix),
                    np_dtype,
                    verify=verify,
                )
                if len(dec) != iz * iy * ix * np_dtype.itemsize:
                    raise ChunkStoreError(
                        f"inner chunk {gz},{gy},{gx} decoded to "
                        f"{len(dec)} bytes"
                    )
                out[
                    gz * iz : (gz + 1) * iz,
                    gy * iy : (gy + 1) * iy,
                    gx * ix : (gx + 1) * ix,
                ] = np.frombuffer(dec, dtype=np_dtype).reshape(iz, iy, ix)
    return out.astype(np_dtype, copy=False).tobytes()


# the reference's probe order (tiff2octree.py:789-795): Zarr v2, then
# Zarr v3 (what zarr-python 3.x writes by default), then N5
_META_FILES = (".zarray", "zarr.json", "attributes.json")


def probe_store(root: str) -> tuple[str, dict] | None:
    """The first of ``.zarray``, ``zarr.json`` and ``attributes.json``
    present directly under ``root``, with its parsed JSON; None when
    there is none. One pyarrow file-info call covers all three names,
    so only a missing file falls through: a file that exists but cannot
    be read or parsed raises. An ``attributes.json`` may belong to an
    N5 group (``pixelResolution`` only) rather than a dataset;
    :func:`chunk_store` tells them apart."""
    filesystem, base = _pa_fs(root)
    base = base.rstrip("/")
    infos = filesystem.get_file_info([f"{base}/{n}" for n in _META_FILES])
    for name, info in zip(_META_FILES, infos):
        if info.type != pafs.FileType.File:
            continue
        with filesystem.open_input_stream(info.path) as fh:
            raw = fh.read()
        try:
            return name, json.loads(raw)
        except ValueError as exc:
            raise ChunkStoreError(f"{root}/{name}: {exc}") from exc
    return None


@dataclass(frozen=True)
class ChunkStore:
    """One opened N5 dataset or Zarr v2/v3 array. Axes are z, y, x
    throughout (N5's x-fastest metadata is reversed at open).

    ``codec`` is the N5 compression or the Zarr v2 compressor id;
    ``codecs``/``transpose``/``shard`` are the Zarr v3 chain
    (``zarr3_meta``); ``sep`` and ``prefixed`` (v3 ``default`` keys
    start with ``c``) define the chunk-key encoding. ``fill`` is the
    declared integral ``fill_value`` (0 for N5)."""

    root: str
    kind: str  # "n5" | "zarr2" | "zarr3"
    shape: tuple[int, int, int]
    chunks: tuple[int, int, int]
    dtype: np.dtype
    fill: int
    codec: str = "raw"
    order: str = "C"
    sep: str = "/"
    prefixed: bool = False
    codecs: list | None = None
    transpose: list | None = None
    shard: dict | None = None

    def _grid_of(self, rel: str) -> tuple[int, int, int] | None:
        """The (gz, gy, gx) cell a relative file name encodes, or None
        for metadata and foreign files. N5 keys are ``x/y/z``; Zarr
        keys are ``i{sep}j{sep}k`` (flat names when ``sep`` is not
        ``/``), behind a ``c`` field for v3 ``default`` keys."""
        if self.sep != "/" and "/" in rel:
            return None
        fields = rel.split(self.sep)
        if self.prefixed:
            if fields[0] != "c":
                return None
            fields = fields[1:]
        if len(fields) != 3 or not all(f.isdigit() for f in fields):
            return None
        grid = tuple(int(f) for f in fields)
        return grid[::-1] if self.kind == "n5" else grid

    def keys(self) -> list[tuple[str | None, int, int, int]]:
        """``(rel, gz, gy, gx)`` for every chunk file inside the grid,
        from one recursive listing, sorted by cell. With a non-zero
        ``fill`` every cell no file covers is listed too, with ``rel``
        None: a spec-conforming reader materializes never-written
        chunks as the declared fill, while a zero fill stays implicit
        (the engine's no-data value)."""
        filesystem, base = _pa_fs(self.root)
        base = base.rstrip("/")
        cells = -np.floor_divide(-np.array(self.shape), self.chunks)
        found = {}
        for info in filesystem.get_file_info(
            pafs.FileSelector(base, recursive=True)
        ):
            if info.type != pafs.FileType.File:
                continue
            rel = info.path[len(base) + 1 :]
            grid = self._grid_of(rel)
            if grid is not None and all(g < n for g, n in zip(grid, cells)):
                found[grid] = rel
        if self.fill:
            for grid in np.ndindex(*cells):
                found.setdefault(tuple(int(g) for g in grid), None)
        return [(rel, *grid) for grid, rel in sorted(found.items())]

    def read(
        self, key: tuple[str | None, int, int, int], verify: bool = False
    ) -> np.ndarray:
        """One chunk, read by path and decoded to its z-y-x array,
        clipped to the array's extent; a never-written chunk (``rel``
        None) is the fill. ``verify`` checks lz4-java xxh32 and v3
        crc32c checksums instead of skipping them. Any failure raises a
        ChunkStoreError that names the chunk's path."""
        rel, gz, gy, gx = key
        origin = (gz, gy, gx)
        extent = tuple(
            min(c, s - g * c) for c, s, g in zip(self.chunks, self.shape, origin)
        )
        if rel is None:
            return np.full(extent, self.fill, dtype=self.dtype)
        # any ?filesystem options of the root follow the key, so the
        # reading process rebuilds the same filesystem
        bare, q, query = self.root.partition("?")
        path = f"{bare.rstrip('/')}/{rel}{q}{query}"
        try:
            arr = self._decode(_read_bytes(path), verify)
        except Exception as exc:
            label = {"n5": "N5", "zarr2": "Zarr", "zarr3": "Zarr v3"}[self.kind]
            raise ChunkStoreError(f"bad {label} chunk {path}: {exc}") from exc
        return arr[: extent[0], : extent[1], : extent[2]]

    def _decode(self, raw: bytes, verify: bool) -> np.ndarray:
        if self.kind == "n5":
            return n5_chunk_array(
                raw, self.codec, self.dtype, self.chunks[::-1], verify=verify
            )
        if self.kind == "zarr2":
            return zarr_chunk_array(
                raw, self.codec, self.dtype, self.chunks, self.order
            )
        if self.shard is not None:
            raw = zarr3_shard_bytes(
                raw, self.shard, self.chunks, self.dtype, verify=verify
            )
        else:
            raw = zarr3_chunk_bytes(
                raw, self.codecs, self.transpose, self.chunks,
                self.dtype, verify=verify,
            )
        return zarr_chunk_array(raw, "raw", self.dtype, self.chunks, "C")


def chunk_store(root: str, missing_ok: bool = False) -> ChunkStore | None:
    """Open the N5 dataset or Zarr array at ``root`` (:func:`probe_store`
    order) and validate its metadata once. A root that holds none of
    the three files — or only a group-level ``attributes.json``, one
    without ``dimensions`` — raises, or gives None with ``missing_ok``
    (the CLI's input detection). A metadata file that was found but is
    not supported raises its own ChunkStoreError rather than falling
    through to the next probe."""
    found = probe_store(root)
    if found is None or (
        found[0] == "attributes.json" and "dimensions" not in found[1]
    ):
        if missing_ok:
            return None
        raise ChunkStoreError(
            f"{root} holds none of .zarray, zarr.json or a dataset "
            "attributes.json"
        )
    name, meta = found
    if name == ".zarray":
        shape, chunks, codec, order, dtype, sep, fill = zarr_meta(meta)
        extra = dict(kind="zarr2", codec=codec, order=order, sep=sep)
    elif name == "zarr.json":
        shape, chunks, dtype, codecs, sep, shard, v3 = zarr3_meta(meta)
        fill = v3["fill"]
        extra = dict(
            kind="zarr3",
            sep=sep,
            prefixed=v3["kenc"] == "default",
            codecs=codecs,
            transpose=v3["transpose"],
            shard=shard,
        )
    else:
        dims_xyz, block_xyz, codec, dtype = n5_meta(meta)
        shape, chunks, fill = dims_xyz[::-1], block_xyz[::-1], 0
        extra = dict(kind="n5", codec=codec)
    if not float(fill).is_integer():
        raise ChunkStoreError(
            f"non-integral fill_value {fill!r} cannot materialize into "
            "the integral voxel schema"
        )
    return ChunkStore(
        root=root,
        shape=tuple(int(s) for s in shape),
        chunks=tuple(int(c) for c in chunks),
        dtype=np.dtype(dtype),
        fill=int(fill),
        **extra,
    )
