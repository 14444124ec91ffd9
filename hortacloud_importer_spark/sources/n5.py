"""Clean-room N5 / Zarr-v2 chunk-store readers (SURVEY §2.A1/A3).

The reference's third front door is ``n5_zarr_to_dask_array``
(tiff2octree.py:779-823): open a Zarr array or N5 dataset, read shape/
dtype, then window-read chunks lazily. The Spark-first dual reads the
tiny JSON metadata once on the driver (through Spark's own reader, so
any Hadoop-visible store works) and decodes chunk FILES on executors:
``binaryFile`` scan of the chunk grid -> ``mapInPandas`` decode ->
one voxel row per element, offset by the chunk's grid position. Both
container formats are public specs:

- **N5** (github.com/saalfeldlab/n5): ``attributes.json`` with
  ``dimensions`` (x fastest), ``blockSize``, ``dataType``,
  ``compression``; chunk files ``<x>/<y>/<z>`` with a
  big-endian header (mode uint16, ndim uint16, int32 dims) and
  big-endian payload in x-fastest order.
- **Zarr v2**: ``.zarray`` with C-ordered ``shape``/``chunks``,
  numpy dtype string, ``compressor``; chunk files ``<i>.<j>.<k>``
  (slowest dimension first), full chunk size with fill overflow.

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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOXEL_SCHEMA = "z long, y long, x long, intensity long"


class ChunkStoreError(ValueError):
    pass


def _read_json(spark: SparkSession, path: str) -> dict:
    """Small-file JSON read through the Hadoop FileSystem API (driver
    side, like sources/hierarchy.py's listing), so local / HDFS / s3a
    paths all resolve identically. NOT spark.read.text: Hadoop input
    formats hide `.`-prefixed files, which would skip Zarr's .zarray."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(jpath)
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, True)
    return json.loads(bytes(baos.toByteArray()).decode("utf-8"))




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


def n5_chunk_axes(
    raw: bytes, codec: str, np_dtype, block_xyz, gx: int, gy: int, gz: int,
    verify: bool = False,
):
    """Decode one N5 chunk file -> flat (z, y, x, intensity) arrays.

    Shared by the mapInPandas path below and the Python DataSource
    front door (sources/datasource.py)."""
    arr = n5_chunk_array(raw, codec, np_dtype, block_xyz, verify=verify)
    oz, oy, ox = gz * block_xyz[2], gy * block_xyz[1], gx * block_xyz[0]
    zz, yy, xx = np.indices(arr.shape)
    return (
        (zz + oz).ravel(),
        (yy + oy).ravel(),
        (xx + ox).ravel(),
        arr.astype(np.int64).ravel(),
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


def read_n5(spark: SparkSession, root: str, verify: bool = False) -> DataFrame:
    """N5 dataset directory -> voxel DataFrame (z, y, x, intensity).

    ``root`` is the dataset level (contains ``attributes.json``).
    Chunk files are scanned with ``binaryFile`` and decoded on
    executors; grid offsets come from the chunk path, so no driver
    loop ever touches payload bytes. ``verify=True`` opts into
    lz4-java per-block xxh32 checks.
    """
    attrs = _read_json(spark, f"{root}/attributes.json")
    _, block_xyz, codec, np_dtype = n5_meta(attrs)

    def decode(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                # path suffix <gx>/<gy>/<gz> (x grid index first)
                gx, gy, gz = (
                    int(p) for p in row.path.rsplit("/", 3)[1:]
                )
                try:
                    z, y, x, i = n5_chunk_axes(
                        bytes(row.content), codec, np_dtype, block_xyz,
                        gx, gy, gz, verify=verify,
                    )
                except Exception as exc:
                    raise ChunkStoreError(
                        f"bad N5 chunk {row.path}: {exc}"
                    ) from exc
                out.append(pd.DataFrame({"z": z, "y": y, "x": x, "intensity": i}))
            yield pd.concat(out) if out else pd.DataFrame(
                columns=["z", "y", "x", "intensity"]
            )

    chunks = spark.read.format("binaryFile").load(f"{root}/*/*/*")
    return chunks.mapInPandas(decode, VOXEL_SCHEMA)


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


def zarr_chunk_axes(
    raw: bytes,
    codec: str,
    np_dtype,
    chunks_zyx,
    order: str,
    shape,
    gz: int,
    gy: int,
    gx: int,
):
    """Decode one Zarr-v2 chunk file -> flat (z, y, x, intensity) arrays.

    Edge chunks are stored full-size; the overhang past ``shape`` is
    clipped. Shared with sources/datasource.py."""
    arr = zarr_chunk_array(raw, codec, np_dtype, chunks_zyx, order)
    oz, oy, ox = gz * chunks_zyx[0], gy * chunks_zyx[1], gx * chunks_zyx[2]
    keep = (
        slice(0, max(0, min(chunks_zyx[0], shape[0] - oz))),
        slice(0, max(0, min(chunks_zyx[1], shape[1] - oy))),
        slice(0, max(0, min(chunks_zyx[2], shape[2] - ox))),
    )
    arr = arr[keep]
    zz, yy, xx = np.indices(arr.shape)
    return (
        (zz + oz).ravel(),
        (yy + oy).ravel(),
        (xx + ox).ravel(),
        arr.astype(np.int64).ravel(),
    )


def missing_fill_voxels(
    spark: SparkSession, root: str, shape, chunks_zyx, fill, key_of
) -> DataFrame | None:
    """Distributed fill voxels for never-written chunks — a
    spec-conforming Zarr reader materializes them as the declared
    ``fill_value``. Only called for nonzero fill (zero is this
    engine's implicit no-data value; materializing it would explode
    sparse stores into dense row counts for no information).

    The chunk GRID is enumerated driver-side (metadata-scale — the
    same listing Spark's file index does for the binaryFile scan) and
    only (gz, gy, gx) keys shuffle; voxel expansion happens on
    executors. ``key_of(relative_path) -> (gz, gy, gx) | None``
    parses the store's chunk-key scheme."""
    from hortacloud_importer_spark.sources.datasource import _list_files

    ifill = int(fill)
    if ifill != fill:
        raise ChunkStoreError(
            f"non-integral fill_value {fill!r} cannot materialize into "
            "the integral voxel schema"
        )
    base = root.rstrip("/")
    present = set()
    for path in _list_files(base, recursive=True):
        key = key_of(path[len(base) + 1 :])
        if key is not None:
            present.add(key)
    cz, cy, cx = chunks_zyx
    ngz, ngy, ngx = (-(-s // c) for s, c in zip(shape, chunks_zyx))
    missing = [
        (gz, gy, gx)
        for gz in range(ngz)
        for gy in range(ngy)
        for gx in range(ngx)
        if (gz, gy, gx) not in present
    ]
    if not missing:
        return None
    sz, sy, sx = shape

    def expand(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                oz, oy, ox = row.gz * cz, row.gy * cy, row.gx * cx
                dz, dy, dx = (
                    min(cz, sz - oz),
                    min(cy, sy - oy),
                    min(cx, sx - ox),
                )
                zz, yy, xx = np.indices((dz, dy, dx))
                out.append(
                    pd.DataFrame(
                        {
                            "z": (zz + oz).ravel(),
                            "y": (yy + oy).ravel(),
                            "x": (xx + ox).ravel(),
                            "intensity": np.full(dz * dy * dx, ifill),
                        }
                    )
                )
            yield pd.concat(out) if out else pd.DataFrame(
                columns=["z", "y", "x", "intensity"]
            )

    df = spark.createDataFrame(missing, "gz long, gy long, gx long")
    # AQE coalesces a tiny keys-only exchange to one partition and
    # would serialize the CPU-heavy expansion behind it — spread it
    # across the cluster explicitly (the recurring fused-kernel trap)
    n = max(1, min(len(missing), spark.sparkContext.defaultParallelism))
    return df.repartition(n).mapInPandas(expand, VOXEL_SCHEMA)


def zarr_key_parser(sep: str, v3: bool = False):
    """relative-path -> (gz, gy, gx) parser for a Zarr store's chunk
    key scheme (None for metadata / foreign files)."""

    def key_of(rel: str):
        fields = rel.split("/") if sep == "/" else rel.rsplit("/", 1)[-1].split(sep)
        if v3:
            if not fields or fields[0] != "c":
                return None
            fields = fields[1:]
        if len(fields) != 3:
            return None
        try:
            return tuple(int(p) for p in fields)
        except ValueError:
            return None

    return key_of


def read_zarr(spark: SparkSession, root: str) -> DataFrame:
    """Zarr-v2 array directory -> voxel DataFrame (z, y, x, intensity).

    Never-written chunks materialize as the declared nonzero
    ``fill_value`` (zero fill stays implicit — the engine's no-data
    convention)."""
    meta = _read_json(spark, f"{root}/.zarray")
    shape, chunks_zyx, codec, order, np_dtype, sep, fill = zarr_meta(meta)

    def decode(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                name = row.path.rsplit("/", 1)[1]
                gz, gy, gx = (int(p) for p in name.split(sep))
                try:
                    z, y, x, i = zarr_chunk_axes(
                        bytes(row.content),
                        codec,
                        np_dtype,
                        chunks_zyx,
                        order,
                        shape,
                        gz,
                        gy,
                        gx,
                    )
                except Exception as exc:
                    raise ChunkStoreError(
                        f"bad Zarr chunk {row.path}: {exc}"
                    ) from exc
                out.append(pd.DataFrame({"z": z, "y": y, "x": x, "intensity": i}))
            yield pd.concat(out) if out else pd.DataFrame(
                columns=["z", "y", "x", "intensity"]
            )

    pattern = f"{root}/*" if sep == "." else f"{root}/*/*/*"
    chunks = (
        spark.read.format("binaryFile")
        .load(pattern)
        .filter(~F.col("path").endswith(".zarray"))
        .filter(~F.col("path").endswith(".zattrs"))
    )
    out = chunks.mapInPandas(decode, VOXEL_SCHEMA)
    if fill:
        filled = missing_fill_voxels(
            spark, root, shape, chunks_zyx, fill, zarr_key_parser(sep)
        )
        if filled is not None:
            out = out.unionByName(filled)
    return out


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
    raw: bytes, shard: dict, outer_zyx, np_dtype
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
                    verify=shard.get("verify", False),
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


def read_zarr_v3(
    spark: SparkSession, root: str, verify: bool = False
) -> DataFrame:
    """Zarr-v3 array directory (zarr.json + c/<i>/<j>/<k> chunks) ->
    voxel DataFrame (z, y, x, intensity) — same executor-decode shape
    as read_zarr. Sharded stores (ZEP-2) decode each shard object to
    its outer chunk in the same per-file task. ``verify=True`` checks
    crc32c codec trailers instead of stripping them. Never-written
    chunks materialize as a declared nonzero ``fill_value``."""
    meta = _read_json(spark, f"{root}/zarr.json")
    shape, chunks_zyx, np_dtype, bb, sep, shard, extra = zarr3_meta(meta)
    transpose = extra["transpose"]
    prefixed = extra["kenc"] == "default"  # "v2" keys have no c/ prefix
    if shard is not None and verify:
        shard = dict(shard, verify=True)

    def decode(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                try:
                    # parse from the path TAIL — the store root itself
                    # may contain '/c...' components (/data/cells/...,
                    # the c{ch}/s{scale} hierarchy layout), so never
                    # split on the first '/c'
                    if sep == "/":
                        nparts = 4 if prefixed else 3
                        parts = row.path.rstrip("/").rsplit("/", nparts)
                        if prefixed and parts[-4] != "c":
                            raise ChunkStoreError(
                                "chunk key not under the c/ directory"
                            )
                        gz, gy, gx = (int(p) for p in parts[-3:])
                    else:
                        name = row.path.rsplit("/", 1)[-1]
                        fields = name.split(sep)
                        if prefixed:
                            if fields[0] != "c" or len(fields) != 4:
                                raise ChunkStoreError(
                                    f"chunk key {name!r} is not "
                                    f"c{sep}i{sep}j{sep}k"
                                )
                            fields = fields[1:]
                        elif len(fields) != 3:
                            raise ChunkStoreError(
                                f"chunk key {name!r} is not i{sep}j{sep}k"
                            )
                        gz, gy, gx = (int(p) for p in fields)
                    if shard is not None:
                        payload = zarr3_shard_bytes(
                            bytes(row.content), shard, chunks_zyx, np_dtype
                        )
                    else:
                        payload = zarr3_chunk_bytes(
                            bytes(row.content), bb, transpose,
                            chunks_zyx, np_dtype, verify=verify,
                        )
                    z, y, x, i = zarr_chunk_axes(
                        payload, "raw", np_dtype, chunks_zyx, "C",
                        shape, gz, gy, gx,
                    )
                except Exception as exc:
                    raise ChunkStoreError(
                        f"bad Zarr v3 chunk {row.path}: {exc}"
                    ) from exc
                out.append(pd.DataFrame({"z": z, "y": y, "x": x, "intensity": i}))
            yield pd.concat(out) if out else pd.DataFrame(
                columns=["z", "y", "x", "intensity"]
            )

    if prefixed:
        pattern = f"{root}/c/*/*/*" if sep == "/" else f"{root}/c*"
    else:  # v2-style keys: digit-led names, never zarr.json
        pattern = f"{root}/*/*/*" if sep == "/" else f"{root}/[0-9]*"
    chunks = spark.read.format("binaryFile").load(pattern)
    out = chunks.mapInPandas(decode, VOXEL_SCHEMA)
    if extra["fill"]:
        filled = missing_fill_voxels(
            spark, root, shape, chunks_zyx, extra["fill"],
            zarr_key_parser(sep, v3=prefixed),
        )
        if filled is not None:
            out = out.unionByName(filled)
    return out


def open_chunk_store(spark: SparkSession, root: str) -> DataFrame:
    """The reference's zarr-then-N5 probe order
    (tiff2octree.py:789-795): try Zarr (.zarray present), then Zarr
    v3 (zarr.json — what zarr-python 3.x writes by default), fall
    back to N5 (attributes.json present).

    A ChunkStoreError re-raises instead of falling through: the
    metadata file WAS found and parsed, and its honest-gate message
    (unsupported codec, transpose, bad shard config) must not be
    replaced by an unrelated 'attributes.json not found' from the
    next probe."""
    try:
        return read_zarr(spark, root)
    except ChunkStoreError:
        raise
    except Exception:  # noqa: BLE001 — probe order, mirror the reference
        pass
    try:
        return read_zarr_v3(spark, root)
    except ChunkStoreError:
        raise
    except Exception:  # noqa: BLE001
        return read_n5(spark, root)
