"""Clean-room N5 / Zarr chunk stores (A1/A3 front door).

Stores are hand-built from the public specs with stdlib gzip/zlib, so
the readers are tested against the format, not against themselves.
Every store is read through its ``n5_volume``/``zarr_volume``
DataSource (sources/n5.py::chunk_store underneath) and compared with
the NumPy volume it was written from.
"""

from __future__ import annotations

import gzip
import json
import zlib

import numpy as np
import pytest

from hortacloud_importer_spark.sources.n5 import ChunkStoreError, chunk_store


def _write_n5(root, vol: np.ndarray, block_xyz, codec="raw"):
    """vol is (z, y, x); N5 metadata is x-fastest."""
    dz, dy, dx = vol.shape
    bx, by, bz = block_xyz
    root.mkdir(parents=True, exist_ok=True)
    (root / "attributes.json").write_text(
        json.dumps(
            {
                "dimensions": [dx, dy, dz],
                "blockSize": [bx, by, bz],
                "dataType": "uint16",
                "compression": (
                    {"type": "gzip", "useZlib": True}
                    if codec == "zlib"
                    else {"type": codec}
                ),
            }
        )
    )
    for gz_i in range((dz + bz - 1) // bz):
        for gy in range((dy + by - 1) // by):
            for gx in range((dx + bx - 1) // bx):
                blk = vol[
                    gz_i * bz : (gz_i + 1) * bz,
                    gy * by : (gy + 1) * by,
                    gx * bx : (gx + 1) * bx,
                ]
                cz, cy, cx = blk.shape
                header = (
                    (0).to_bytes(2, "big")
                    + (3).to_bytes(2, "big")
                    + cx.to_bytes(4, "big")
                    + cy.to_bytes(4, "big")
                    + cz.to_bytes(4, "big")
                )
                payload = blk.astype(">u2").tobytes()  # x fastest == C over zyx
                if codec == "gzip":
                    payload = gzip.compress(payload)
                elif codec == "zlib":
                    payload = zlib.compress(payload)
                elif codec == "bzip2":
                    import bz2

                    payload = bz2.compress(payload)
                elif codec == "xz":
                    import lzma

                    payload = lzma.compress(payload)
                elif codec == "lz4":
                    from hortacloud_importer_spark.sources.codecs import (
                        lz4java_block_compress,
                    )

                    payload = lz4java_block_compress(payload)
                d = root / str(gx) / str(gy)
                d.mkdir(parents=True, exist_ok=True)
                (d / str(gz_i)).write_bytes(header + payload)


def _write_zarr(root, vol: np.ndarray, chunks_zyx, compressor, fill=0, skip=()):
    dz, dy, dx = vol.shape
    cz, cy, cx = chunks_zyx
    root.mkdir(parents=True, exist_ok=True)
    (root / ".zarray").write_text(
        json.dumps(
            {
                "zarr_format": 2,
                "shape": [dz, dy, dx],
                "chunks": [cz, cy, cx],
                "dtype": "<u2",
                "compressor": compressor,
                "order": "C",
                "fill_value": fill,
                "filters": None,
            }
        )
    )
    for gz_i in range((dz + cz - 1) // cz):
        for gy in range((dy + cy - 1) // cy):
            for gx in range((dx + cx - 1) // cx):
                if (gz_i, gy, gx) in skip:
                    continue
                full = np.full((cz, cy, cx), fill, dtype="<u2")
                blk = vol[
                    gz_i * cz : (gz_i + 1) * cz,
                    gy * cy : (gy + 1) * cy,
                    gx * cx : (gx + 1) * cx,
                ]
                full[: blk.shape[0], : blk.shape[1], : blk.shape[2]] = blk
                payload = full.tobytes()
                cid = compressor["id"] if compressor else None
                if cid == "zlib":
                    payload = zlib.compress(payload)
                elif cid == "gzip":
                    payload = gzip.compress(payload)
                elif cid == "bz2":
                    import bz2

                    payload = bz2.compress(payload)
                elif cid == "lzma":
                    import lzma

                    payload = lzma.compress(payload)
                elif cid == "zstd":
                    import pyarrow as pa

                    payload = pa.Codec("zstd").compress(payload, asbytes=True)
                elif cid == "lz4":
                    from hortacloud_importer_spark.sources.codecs import (
                        numcodecs_lz4_compress,
                    )

                    payload = numcodecs_lz4_compress(payload)
                elif cid == "blosc":
                    from hortacloud_importer_spark.sources.codecs import (
                        blosc_compress,
                    )

                    payload = blosc_compress(
                        payload,
                        typesize=2,
                        cname=compressor.get("cname", "lz4"),
                        shuffle=bool(compressor.get("shuffle", 1)),
                    )
                (root / f"{gz_i}.{gy}.{gx}").write_bytes(payload)


def _read(spark, fmt, root, **options):
    """The voxel DataFrame of a store, read through its DataSource."""
    return spark.read.format(fmt).options(**options).load(str(root))


def _collect_vol(df, shape):
    got = np.zeros(shape, dtype=np.int64)
    rows = df.collect()
    assert len(rows) == int(np.prod(shape))
    for r in rows:
        got[r["z"], r["y"], r["x"]] = r["intensity"]
    return got


@pytest.mark.parametrize(
    "codec", ["raw", "gzip", "zlib", "bzip2", "xz", "lz4"]
)
def test_n5_roundtrip(spark, tmp_path, codec):
    rng = np.random.default_rng(8)
    vol = rng.integers(0, 65535, (4, 6, 8), dtype=np.uint16)
    _write_n5(tmp_path / "data.n5", vol, (4, 3, 2), codec)
    got = _collect_vol(
        _read(spark, "n5_volume", f"file://{tmp_path}/data.n5"), vol.shape
    )
    assert np.array_equal(got, vol)


@pytest.mark.parametrize(
    "compressor",
    [
        None,
        {"id": "zlib", "level": 1},
        {"id": "gzip", "level": 1},
        {"id": "bz2", "level": 1},
        {"id": "lzma"},
        {"id": "zstd", "level": 1},
        {"id": "lz4", "acceleration": 1},
        # the Zarr DEFAULT compressor: blosc-lz4 with byte shuffle
        {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1},
        {"id": "blosc", "cname": "zstd", "clevel": 5, "shuffle": 1},
        {"id": "blosc", "cname": "zlib", "clevel": 5, "shuffle": 0},
    ],
)
def test_zarr_roundtrip_with_edge_chunks(spark, tmp_path, compressor):
    rng = np.random.default_rng(9)
    vol = rng.integers(0, 65535, (5, 7, 6), dtype=np.uint16)  # non-divisible
    _write_zarr(tmp_path / "arr.zarr", vol, (4, 4, 4), compressor)
    got = _collect_vol(
        _read(spark, "zarr_volume", f"file://{tmp_path}/arr.zarr"), vol.shape
    )
    assert np.array_equal(got, vol)


def test_probe_order_matches_reference(spark, tmp_path):
    """.zarray wins over a dataset attributes.json beside it, as in
    the reference's zarr-then-N5 probe (tiff2octree.py:789-795)."""
    vol = np.arange(8, dtype=np.uint16).reshape(2, 2, 2)
    _write_zarr(tmp_path / "store", vol, (2, 2, 2), None)
    (tmp_path / "store" / "attributes.json").write_text(
        json.dumps(
            {"dimensions": [2, 2, 2], "blockSize": [2, 2, 2],
             "dataType": "uint16"}
        )
    )
    assert chunk_store(f"file://{tmp_path}/store").kind == "zarr2"
    got = _collect_vol(
        _read(spark, "n5_volume", f"file://{tmp_path}/store"), vol.shape
    )
    assert np.array_equal(got, vol)


def test_unknown_codec_raises(spark, tmp_path):
    vol = np.zeros((2, 2, 2), dtype=np.uint16)
    root = tmp_path / "b.zarr"
    _write_zarr(root, vol, (2, 2, 2), None)
    meta = json.loads((root / ".zarray").read_text())
    meta["compressor"] = {"id": "brotli"}
    (root / ".zarray").write_text(json.dumps(meta))
    with pytest.raises(Exception, match="brotli"):
        _read(spark, "zarr_volume", f"file://{root}").collect()


def test_hierarchy_discovery_over_n5(tmp_path):
    """The reference's full front door: c{i}/s{j} group discovery over
    an N5 store, and each level listed as one volume whose channels
    are tagged with their group's id and read their own chunks."""
    from hortacloud_importer_spark.sources.hierarchy import discover_hierarchy
    from hortacloud_importer_spark.sources.listing import hierarchy_volume
    from tests.test_listing import read_volume

    rng = np.random.default_rng(11)
    vols = {ch: rng.integers(0, 65535, (4, 4, 4), dtype=np.uint16) for ch in (0, 1)}
    for ch, vol in vols.items():
        _write_n5(tmp_path / f"c{ch}" / "s0", vol, (4, 4, 2), "gzip")
        _write_n5(tmp_path / f"c{ch}" / "s1", vol[::2, ::2, ::2], (2, 2, 1), "gzip")

    root = f"file://{tmp_path}"
    assert discover_hierarchy(root) == {0: [0, 1], 1: [0, 1]}
    lv0 = hierarchy_volume(root, 0)
    assert lv0.dims == (4, 4, 4)
    got = read_volume(lv0)
    assert sorted(got) == [0, 1]
    for ch in (0, 1):
        assert np.array_equal(got[ch], vols[ch])
    lv1 = read_volume(hierarchy_volume(root, 1))
    for ch in (0, 1):
        assert np.array_equal(lv1[ch], vols[ch][::2, ::2, ::2])


def test_corrupt_chunk_bytes_fail_fast_without_spark():
    """Header validation must reject garbage BEFORE building arrays: a
    truncated header once parsed to a ~2-billion-element dim and hung
    np.indices.  One bad chunk in a 100 TB store must die in
    microseconds with a parseable message, not stall an executor."""
    from hortacloud_importer_spark.sources.n5 import (
        n5_chunk_array,
        zarr_chunk_array,
    )

    bad = [
        b"",  # empty file
        b"\x00\x00\x00\x03trunc",  # truncated dims
        b"\x00\x00\x00\x02" + b"\x00\x00\x00\x04" * 2,  # ndim mismatch
        b"\x00\x00\x00\x03" + b"\x00\x00\x00\x63" * 3,  # dims > blockSize
        # well-formed header, short payload
        b"\x00\x00\x00\x03" + (4).to_bytes(4, "big") * 3 + b"\x00" * 7,
    ]
    for raw in bad:
        with pytest.raises(ChunkStoreError, match="corrupt N5 chunk"):
            n5_chunk_array(raw, "raw", np.dtype(">u2"), (4, 4, 4))

    with pytest.raises(ChunkStoreError, match="corrupt Zarr chunk"):
        zarr_chunk_array(b"\x00" * 3, "raw", np.dtype("<u2"), (4, 4, 4), "C")

    # a good chunk still decodes exactly
    hdr = b"\x00\x00\x00\x03" + (4).to_bytes(4, "big") * 3
    payload = np.arange(64, dtype=">u2").tobytes()
    arr = n5_chunk_array(hdr + payload, "raw", np.dtype(">u2"), (4, 4, 4))
    assert np.array_equal(arr, np.arange(64).reshape(4, 4, 4))


def _write_zarr_v3(
    root, vol, chunks_zyx, codecs, sep="/", transpose=None, fill=0, skip=(),
    kenc="default",
):
    """Spec-shaped Zarr v3 store: zarr.json + c/<i>/<j>/<k> chunks,
    codec chain applied in order (optional transpose, bytes endian,
    then bytes->bytes). ``skip`` chunk keys are left unwritten (never-
    written chunks read back as ``fill``); crc32c trailers are real
    Castagnoli checksums so verify-mode reads also pass."""
    dz, dy, dx = vol.shape
    cz, cy, cx = chunks_zyx
    root.mkdir(parents=True, exist_ok=True)
    chain = [{"name": "bytes", "configuration": {"endian": "little"}}] + codecs
    if transpose is not None:
        chain = [
            {"name": "transpose", "configuration": {"order": list(transpose)}}
        ] + chain
    (root / "zarr.json").write_text(
        json.dumps(
            {
                "zarr_format": 3,
                "node_type": "array",
                "shape": [dz, dy, dx],
                "data_type": "uint16",
                "chunk_grid": {
                    "name": "regular",
                    "configuration": {"chunk_shape": [cz, cy, cx]},
                },
                "chunk_key_encoding": {
                    "name": kenc,
                    "configuration": {"separator": sep},
                },
                "fill_value": fill,
                "codecs": chain,
            }
        )
    )
    from hortacloud_importer_spark.sources.codecs import blosc_compress, crc32c

    for gz_i in range((dz + cz - 1) // cz):
        for gy in range((dy + cy - 1) // cy):
            for gx in range((dx + cx - 1) // cx):
                if (gz_i, gy, gx) in skip:
                    continue
                full = np.full((cz, cy, cx), fill, dtype="<u2")
                blk = vol[
                    gz_i * cz : (gz_i + 1) * cz,
                    gy * cy : (gy + 1) * cy,
                    gx * cx : (gx + 1) * cx,
                ]
                full[: blk.shape[0], : blk.shape[1], : blk.shape[2]] = blk
                if transpose is not None:
                    full = np.ascontiguousarray(full.transpose(transpose))
                payload = full.tobytes()
                for c in codecs:
                    if c["name"] == "blosc":
                        payload = blosc_compress(
                            payload, typesize=2,
                            cname=c["configuration"].get("cname", "lz4"),
                        )
                    elif c["name"] == "gzip":
                        payload = gzip.compress(payload)
                    elif c["name"] == "zstd":
                        import pyarrow as pa

                        payload = pa.Codec("zstd").compress(
                            payload, asbytes=True
                        )
                    elif c["name"] == "crc32c":
                        payload = payload + crc32c(payload).to_bytes(
                            4, "little"
                        )
                if kenc == "v2":  # bare Zarr-v2-style keys
                    if sep == "/":
                        d = root / str(gz_i) / str(gy)
                        d.mkdir(parents=True, exist_ok=True)
                        (d / str(gx)).write_bytes(payload)
                    else:
                        (root / f"{gz_i}{sep}{gy}{sep}{gx}").write_bytes(
                            payload
                        )
                elif sep == "/":
                    d = root / "c" / str(gz_i) / str(gy)
                    d.mkdir(parents=True, exist_ok=True)
                    (d / str(gx)).write_bytes(payload)
                else:
                    (root / f"c{sep}{gz_i}{sep}{gy}{sep}{gx}").write_bytes(
                        payload
                    )


@pytest.mark.parametrize(
    "codecs",
    [
        [],
        [{"name": "gzip", "configuration": {"level": 1}}],
        [{"name": "zstd", "configuration": {"level": 3}}],
        [{"name": "blosc", "configuration": {"cname": "lz4", "shuffle": "shuffle"}}],
        [
            {"name": "blosc", "configuration": {"cname": "zstd"}},
            {"name": "crc32c"},
        ],
    ],
)
def test_zarr_v3_roundtrip(spark, tmp_path, codecs):
    """Zarr v3 (zarr-python 3.x default layout): zarr.json metadata,
    c/<i>/<j>/<k> chunk keys, bytes + bytes->bytes codec chain."""
    rng = np.random.default_rng(21)
    vol = rng.integers(0, 65535, (5, 7, 6), dtype=np.uint16)  # edge chunks
    _write_zarr_v3(tmp_path / "v3.zarr", vol, (4, 4, 4), codecs)
    got = _collect_vol(
        _read(spark, "zarr_volume", f"file://{tmp_path}/v3.zarr"), vol.shape
    )
    assert np.array_equal(got, vol)


@pytest.mark.parametrize("order", [[2, 1, 0], [1, 2, 0], [0, 1, 2]])
def test_zarr_v3_transpose_roundtrip(spark, tmp_path, order):
    """The v3 ``transpose`` array->array codec: stored bytes are
    C-order over the PERMUTED chunk shape; the reader undoes the
    permutation."""
    rng = np.random.default_rng(33)
    vol = rng.integers(0, 65535, (5, 7, 6), dtype=np.uint16)  # edge chunks
    root = tmp_path / f"t{''.join(map(str, order))}.zarr"
    _write_zarr_v3(
        root, vol, (4, 3, 4),
        [{"name": "gzip", "configuration": {"level": 1}}],
        transpose=order,
    )
    got = _collect_vol(_read(spark, "zarr_volume", f"file://{root}"), vol.shape)
    assert np.array_equal(got, vol)


def test_zarr_v3_unsharded_fill_value(spark, tmp_path):
    """Never-written chunks of an unsharded v3 store materialize as
    the declared nonzero fill_value (previously they were dropped,
    disagreeing with the shard path and the spec)."""
    rng = np.random.default_rng(34)
    vol = rng.integers(1, 65535, (5, 7, 6), dtype=np.uint16)
    root = tmp_path / "fill.zarr"
    _write_zarr_v3(
        root, vol, (4, 4, 4), [], fill=77, skip={(1, 0, 1), (0, 1, 0)}
    )
    want = vol.astype(np.int64).copy()
    want[4:5, 0:4, 4:6] = 77
    want[0:4, 4:7, 0:4] = 77
    got = _collect_vol(_read(spark, "zarr_volume", f"file://{root}"), vol.shape)
    assert np.array_equal(got, want)


@pytest.mark.parametrize("sep", [".", "/"])
def test_zarr_v3_v2_chunk_key_encoding(spark, tmp_path, sep):
    """The v3 spec's second chunk-key scheme: ``v2`` encoding stores
    bare Zarr-v2-style keys (<i>.<j>.<k>, no ``c`` prefix) — what
    zarr-python writes when migrating old stores, incl. fill
    materialization for a skipped chunk."""
    rng = np.random.default_rng(36)
    vol = rng.integers(1, 65535, (5, 7, 6), dtype=np.uint16)
    root = tmp_path / f"v2enc{'s' if sep == '/' else 'd'}.zarr"
    _write_zarr_v3(
        root, vol, (4, 4, 4),
        [{"name": "gzip", "configuration": {"level": 1}}],
        sep=sep, kenc="v2", fill=55, skip={(1, 1, 1)},
    )
    want = vol.astype(np.int64).copy()
    want[4:5, 4:7, 4:6] = 55
    got = _collect_vol(_read(spark, "zarr_volume", f"file://{root}"), vol.shape)
    assert np.array_equal(got, want)


def test_zarr_v2_fill_value(spark, tmp_path):
    rng = np.random.default_rng(35)
    vol = rng.integers(1, 65535, (5, 7, 6), dtype=np.uint16)
    root = tmp_path / "fill2.zarr"
    _write_zarr(root, vol, (4, 4, 4), None, fill=9, skip={(0, 0, 0)})
    want = vol.astype(np.int64).copy()
    want[0:4, 0:4, 0:4] = 9
    got = _collect_vol(_read(spark, "zarr_volume", f"file://{root}"), vol.shape)
    assert np.array_equal(got, want)


def test_zarr_volume_datasource_fill_value(spark, tmp_path):
    """The zarr_volume DataSource plans path-less partitions for
    never-written chunks when fill_value is nonzero — and window
    pushdown prunes them like any other chunk."""
    from hortacloud_importer_spark.sources.datasource import (
        register_volume_sources,
    )

    register_volume_sources(spark)
    rng = np.random.default_rng(36)
    vol = rng.integers(1, 65535, (5, 7, 6), dtype=np.uint16)
    root = tmp_path / "fillds.zarr"
    _write_zarr_v3(root, vol, (4, 4, 4), [], fill=55, skip={(1, 0, 1)})
    df = spark.read.format("zarr_volume").load(str(root))
    want = vol.astype(np.int64).copy()
    want[4:5, 0:4, 4:6] = 55
    got = _collect_vol(df, vol.shape)
    assert np.array_equal(got, want)
    # pushdown prunes the synthetic fill partition too
    pruned = df.filter("z < 4").count()
    assert pruned == 4 * 7 * 6


def test_zarr_v3_crc32c_verify(spark, tmp_path):
    """Opt-in crc32c verification: a clean store reads identically,
    a flipped byte raises a named checksum error instead of decoding
    garbage."""
    rng = np.random.default_rng(37)
    vol = rng.integers(0, 65535, (4, 4, 4), dtype=np.uint16)
    root = tmp_path / "crc.zarr"
    _write_zarr_v3(root, vol, (4, 4, 4), [{"name": "crc32c"}])
    got = _collect_vol(
        _read(spark, "zarr_volume", f"file://{root}", verify="true"), vol.shape
    )
    assert np.array_equal(got, vol)
    chunk = root / "c" / "0" / "0" / "0"
    raw = bytearray(chunk.read_bytes())
    raw[3] ^= 0x40
    chunk.write_bytes(bytes(raw))
    # default (no verify) decodes the corrupt bytes silently; verify raises
    with pytest.raises(Exception, match="crc32c mismatch"):
        _read(spark, "zarr_volume", f"file://{root}", verify="true").collect()


def test_n5_lz4_xxh32_verify(spark, tmp_path):
    rng = np.random.default_rng(38)
    vol = rng.integers(0, 65535, (4, 4, 4), dtype=np.uint16)  # incompressible
    _write_n5(tmp_path / "v.n5", vol, (4, 4, 4), codec="lz4")
    got = _collect_vol(
        _read(spark, "n5_volume", f"file://{tmp_path}/v.n5", verify="true"), vol.shape
    )
    assert np.array_equal(got, vol)
    chunk = tmp_path / "v.n5" / "0" / "0" / "0"
    raw = bytearray(chunk.read_bytes())
    # chunk = 16-byte N5 header + 21-byte lz4-java block header +
    # payload (+ 21-byte end mark): flip a payload byte, not the end
    # mark (whose fields the decoder never checksums)
    raw[16 + 21 + 3] ^= 0x01
    chunk.write_bytes(bytes(raw))
    with pytest.raises(Exception, match="xxh32 mismatch"):
        _read(spark, "n5_volume", f"file://{tmp_path}/v.n5", verify="true").collect()


def test_zarr_v3_dot_separator(spark, tmp_path):
    vol = np.arange(8, dtype=np.uint16).reshape(2, 2, 2)
    _write_zarr_v3(tmp_path / "v3dot.zarr", vol, (2, 2, 2), [], sep=".")
    got = _collect_vol(
        _read(spark, "zarr_volume", f"file://{tmp_path}/v3dot.zarr"), vol.shape
    )
    assert np.array_equal(got, vol)


def test_chunk_store_probes_v3(spark, tmp_path):
    """zarr.json is probed when .zarray is absent, and both DataSource
    names read the store."""
    vol = np.arange(8, dtype=np.uint16).reshape(2, 2, 2)
    _write_zarr_v3(tmp_path / "store3", vol, (2, 2, 2), [])
    root = f"file://{tmp_path}/store3"
    assert chunk_store(root).kind == "zarr3"
    for fmt in ("n5_volume", "zarr_volume"):
        got = _collect_vol(_read(spark, fmt, root), vol.shape)
        assert np.array_equal(got, vol), fmt


def test_zarr_v3_gates_sharding_and_transpose(spark, tmp_path):
    from hortacloud_importer_spark.sources.n5 import zarr3_meta

    base = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": [2, 2, 2],
        "data_type": "uint16",
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": [2, 2, 2]},
        },
        "chunk_key_encoding": {"name": "default"},
        "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
    }
    bad = dict(base)
    bad["codecs"] = [{"name": "sharding_indexed", "configuration": {}}]
    with pytest.raises(ChunkStoreError, match="chunk_shape"):
        zarr3_meta(bad)
    # transpose AFTER bytes is a malformed chain (it is array->array)
    bad2 = dict(base)
    bad2["codecs"] = base["codecs"] + [{"name": "transpose"}]
    with pytest.raises(ChunkStoreError, match="transpose|unsupported"):
        zarr3_meta(bad2)
    # transpose without a full [0,1,2] permutation is gated
    bad3 = dict(base)
    bad3["codecs"] = [{"name": "transpose"}] + base["codecs"]
    with pytest.raises(ChunkStoreError, match="order"):
        zarr3_meta(bad3)
    bad4 = dict(base)
    bad4["codecs"] = [
        {"name": "transpose", "configuration": {"order": [0, 0, 1]}}
    ] + base["codecs"]
    with pytest.raises(ChunkStoreError, match="order"):
        zarr3_meta(bad4)
    # a well-formed transpose parses and reports its permutation
    good = dict(base)
    good["codecs"] = [
        {"name": "transpose", "configuration": {"order": [2, 1, 0]}}
    ] + base["codecs"]
    *_, extra = zarr3_meta(good)
    assert extra["transpose"] == [2, 1, 0]


def test_zarr_volume_datasource_reads_v3(spark, tmp_path):
    """The zarr_volume DataSource probes zarr.json when .zarray is
    absent: v3 stores get the same chunk-grain partition planning and
    window pruning as v2."""
    from hortacloud_importer_spark.sources.datasource import (
        register_volume_sources,
    )

    register_volume_sources(spark)
    rng = np.random.default_rng(27)
    vol = rng.integers(0, 65535, (5, 6, 7), dtype=np.uint16)
    _write_zarr_v3(
        tmp_path / "ds3.zarr", vol, (4, 4, 4),
        [{"name": "blosc", "configuration": {"cname": "lz4"}}],
    )
    df = spark.read.format("zarr_volume").load(str(tmp_path / "ds3.zarr"))
    got = _collect_vol(df, vol.shape)
    assert np.array_equal(got, vol)
    # window filter still prunes + re-applies exactly
    import pyspark.sql.functions as F

    sub = df.filter((F.col("z") >= 2) & (F.col("x") < 3))
    rows = sub.collect()
    assert len(rows) == 3 * 6 * 3
    for r in rows:
        assert vol[r["z"], r["y"], r["x"]] == r["intensity"]


def _write_zarr_v3_sharded(
    root, vol, shard_zyx, inner_zyx, inner_codecs, index_location="end"
):
    """ZEP-2 sharded store: each outer chunk is one shard object of
    encoded inner chunks plus a uint64-LE (offset, nbytes) footer
    index (crc32c-suffixed, as zarr-python writes); all-zero inner
    chunks are omitted (index pair = 2^64-1)."""
    import struct as _struct

    from hortacloud_importer_spark.sources.codecs import blosc_compress

    dz, dy, dx = vol.shape
    sz, sy, sx = shard_zyx
    iz, iy, ix = inner_zyx
    root.mkdir(parents=True, exist_ok=True)
    (root / "zarr.json").write_text(
        json.dumps(
            {
                "zarr_format": 3,
                "node_type": "array",
                "shape": [dz, dy, dx],
                "data_type": "uint16",
                "chunk_grid": {
                    "name": "regular",
                    "configuration": {"chunk_shape": [sz, sy, sx]},
                },
                "chunk_key_encoding": {
                    "name": "default",
                    "configuration": {"separator": "/"},
                },
                "fill_value": 0,
                "codecs": [
                    {
                        "name": "sharding_indexed",
                        "configuration": {
                            "chunk_shape": [iz, iy, ix],
                            "codecs": [
                                {
                                    "name": "bytes",
                                    "configuration": {"endian": "little"},
                                }
                            ]
                            + inner_codecs,
                            "index_codecs": [
                                {
                                    "name": "bytes",
                                    "configuration": {"endian": "little"},
                                },
                                {"name": "crc32c"},
                            ],
                            "index_location": index_location,
                        },
                    }
                ],
            }
        )
    )

    def enc(payload):
        for c in inner_codecs:
            if c["name"] == "blosc":
                payload = blosc_compress(payload, typesize=2)
            elif c["name"] == "gzip":
                payload = gzip.compress(payload)
        return payload

    missing = (1 << 64) - 1
    for gz_i in range(-(-dz // sz)):
        for gy in range(-(-dy // sy)):
            for gx in range(-(-dx // sx)):
                full = np.zeros((sz, sy, sx), dtype="<u2")
                blk = vol[
                    gz_i * sz : (gz_i + 1) * sz,
                    gy * sy : (gy + 1) * sy,
                    gx * sx : (gx + 1) * sx,
                ]
                full[: blk.shape[0], : blk.shape[1], : blk.shape[2]] = blk
                body = bytearray()
                pairs = []
                header = 0
                n_inner = (sz // iz) * (sy // iy) * (sx // ix)
                if index_location == "start":
                    header = 16 * n_inner + 4
                for cz_i in range(sz // iz):
                    for cy_i in range(sy // iy):
                        for cx_i in range(sx // ix):
                            inner = full[
                                cz_i * iz : (cz_i + 1) * iz,
                                cy_i * iy : (cy_i + 1) * iy,
                                cx_i * ix : (cx_i + 1) * ix,
                            ]
                            if not inner.any():
                                pairs.append((missing, missing))
                                continue
                            payload = enc(inner.tobytes())
                            pairs.append((header + len(body), len(payload)))
                            body += payload
                index = b"".join(
                    _struct.pack("<QQ", o, n) for o, n in pairs
                ) + b"\x00\x00\x00\x00"  # crc32c placeholder
                blob = (
                    index + bytes(body)
                    if index_location == "start"
                    else bytes(body) + index
                )
                d = root / "c" / str(gz_i) / str(gy)
                d.mkdir(parents=True, exist_ok=True)
                (d / str(gx)).write_bytes(blob)


@pytest.mark.parametrize("index_location", ["end", "start"])
@pytest.mark.parametrize(
    "inner_codecs",
    [[], [{"name": "blosc", "configuration": {"cname": "lz4"}}]],
)
def test_zarr_v3_sharded_roundtrip(spark, tmp_path, inner_codecs, index_location):
    """ZEP-2 sharding — the v3 layout built FOR huge stores: outer
    chunks are shard objects with an inner-chunk grid and a uint64
    index; missing inner chunks read as fill (zero)."""
    rng = np.random.default_rng(33)
    vol = rng.integers(0, 65535, (10, 9, 8), dtype=np.uint16)
    vol[0:2, 0:4, 0:4] = 0  # a whole inner chunk of zeros -> omitted
    name = f"sh_{index_location}_{len(inner_codecs)}.zarr"
    _write_zarr_v3_sharded(
        tmp_path / name, vol, (4, 4, 4), (2, 4, 4), inner_codecs,
        index_location,
    )
    got = _collect_vol(
        _read(spark, "zarr_volume", f"file://{tmp_path}/{name}"), vol.shape
    )
    assert np.array_equal(got, vol)


def test_zarr_volume_datasource_reads_sharded_v3(spark, tmp_path):
    from hortacloud_importer_spark.sources.datasource import (
        register_volume_sources,
    )

    register_volume_sources(spark)
    rng = np.random.default_rng(35)
    vol = rng.integers(0, 65535, (8, 8, 8), dtype=np.uint16)
    _write_zarr_v3_sharded(
        tmp_path / "dss.zarr", vol, (4, 8, 8), (2, 4, 8),
        [{"name": "blosc", "configuration": {"cname": "lz4"}}],
    )
    df = spark.read.format("zarr_volume").load(str(tmp_path / "dss.zarr"))
    got = _collect_vol(df, vol.shape)
    assert np.array_equal(got, vol)


def test_zarr_v3_root_containing_c_component(spark, tmp_path):
    """Review r7: chunk indices must parse from the path TAIL — a
    store root like .../cells/... (or the c{ch}/s{scale} hierarchy)
    contains '/c' before the chunk directory."""
    vol = np.arange(8, dtype=np.uint16).reshape(2, 2, 2)
    root = tmp_path / "cells" / "c0" / "v3.zarr"
    _write_zarr_v3(root, vol, (2, 2, 2), [])
    got = _collect_vol(_read(spark, "zarr_volume", f"file://{root}"), vol.shape)
    assert np.array_equal(got, vol)


def test_zarr_v3_shard_fill_value_honored(spark, tmp_path):
    """Missing inner chunks materialize as the declared fill_value."""
    vol = np.full((4, 4, 4), 7, dtype=np.uint16)
    vol[0:2, :, :] = 0  # the writer omits all-zero inner chunks
    root = tmp_path / "fill.zarr"
    _write_zarr_v3_sharded(root, vol, (4, 4, 4), (2, 4, 4), [])
    meta = json.loads((root / "zarr.json").read_text())
    meta["fill_value"] = 9
    (root / "zarr.json").write_text(json.dumps(meta))
    got = _collect_vol(_read(spark, "zarr_volume", f"file://{root}"), vol.shape)
    assert (got[0:2] == 9).all() and (got[2:4] == 7).all()


def test_zarr_v3_gates_exotic_index_codecs():
    from hortacloud_importer_spark.sources.n5 import zarr3_meta

    meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": [2, 2, 2],
        "data_type": "uint16",
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": [2, 2, 2]},
        },
        "chunk_key_encoding": {"name": "default"},
        "codecs": [
            {
                "name": "sharding_indexed",
                "configuration": {
                    "chunk_shape": [2, 2, 2],
                    "codecs": [
                        {"name": "bytes", "configuration": {"endian": "little"}}
                    ],
                    "index_codecs": [
                        {"name": "bytes", "configuration": {"endian": "big"}},
                        {"name": "crc32c"},
                    ],
                },
            }
        ],
    }
    with pytest.raises(ChunkStoreError, match="index_codecs"):
        zarr3_meta(meta)


def test_chunk_store_preserves_gate_errors(spark, tmp_path):
    """A parsed-but-gated metadata file must surface its own message,
    not fall through to an unrelated attributes.json error — also when
    the caller only asks whether a store is there."""
    root = tmp_path / "gated.zarr"
    root.mkdir()
    (root / "zarr.json").write_text(
        json.dumps(
            {
                "zarr_format": 3,
                "node_type": "array",
                "shape": [2, 2, 2],
                "data_type": "uint16",
                "chunk_grid": {
                    "name": "regular",
                    "configuration": {"chunk_shape": [2, 2, 2]},
                },
                "chunk_key_encoding": {"name": "default"},
                "codecs": [
                    {"name": "bytes", "configuration": {"endian": "little"}},
                    {"name": "zfp"},
                ],
            }
        )
    )
    with pytest.raises(ChunkStoreError, match="zfp"):
        chunk_store(f"file://{root}")
    with pytest.raises(ChunkStoreError, match="zfp"):
        chunk_store(f"file://{root}", missing_ok=True)
    with pytest.raises(Exception, match="zfp"):
        _read(spark, "zarr_volume", f"file://{root}").collect()


def test_crop_chunk_store_all_kinds(spark, tmp_path):
    """The reference's get_cropped_image_n5_zarr as an export: a
    window crops straight from N5 / Zarr v2 / Zarr v3 (incl. sharded)
    stores into a re-ingestable slice directory, with chunk pruning
    on grid coordinates."""
    from hortacloud_importer_spark.pipelines import crop_chunk_store
    from hortacloud_importer_spark.sources.tiff import decode_tiff

    rng = np.random.default_rng(41)
    vol = rng.integers(1, 65535, (6, 7, 8), dtype=np.uint16)
    window = ((1, 4), (2, 6), (3, 8))

    stores = {}
    _write_n5(tmp_path / "a.n5", vol, (4, 3, 2), "gzip")
    stores["n5"] = tmp_path / "a.n5"
    _write_zarr(tmp_path / "b.zarr", vol, (4, 4, 4), {"id": "zlib", "level": 1})
    stores["zarr2"] = tmp_path / "b.zarr"
    _write_zarr_v3(
        tmp_path / "c.zarr", vol, (4, 4, 4),
        [{"name": "blosc", "configuration": {"cname": "lz4"}}],
    )
    stores["zarr3"] = tmp_path / "c.zarr"
    _write_zarr_v3_sharded(tmp_path / "d.zarr", vol, (4, 4, 4), (2, 4, 4), [])
    stores["zarr3_sharded"] = tmp_path / "d.zarr"
    _write_zarr_v3(
        tmp_path / "e.zarr", vol, (4, 4, 4),
        [{"name": "gzip", "configuration": {"level": 1}}],
        sep=".", kenc="v2",
    )
    stores["zarr3_v2keys"] = tmp_path / "e.zarr"

    (z0, z1), (y0, y1), (x0, x1) = window
    expect = vol[z0:z1, y0:y1, x0:x1]
    for kind, root in stores.items():
        out = tmp_path / f"crop_{kind}"
        res = crop_chunk_store(
            spark, str(root), str(out), window
        ).collect()
        assert len(res) == z1 - z0, kind
        got = np.stack(
            [
                decode_tiff((out / f"default.0.{z:05d}.tif").read_bytes())[
                    0, :, :, 0
                ]
                for z in range(z1 - z0)
            ]
        )
        assert np.array_equal(got, expect), kind


def test_crop_chunk_store_gates_wide_dtypes_and_honors_fill(spark, tmp_path):
    """Review r7: crop must refuse stores whose samples cannot pack
    losslessly into the uint16 slice export, and missing chunks must
    materialize as the declared fill_value."""
    from hortacloud_importer_spark.pipelines import crop_chunk_store
    from hortacloud_importer_spark.sources.n5 import ChunkStoreError
    from hortacloud_importer_spark.sources.tiff import decode_tiff

    # float32 v3 store -> clear gate, no silent wrap
    root = tmp_path / "f32.zarr"
    root.mkdir()
    (root / "zarr.json").write_text(
        json.dumps(
            {
                "zarr_format": 3,
                "node_type": "array",
                "shape": [2, 2, 2],
                "data_type": "float32",
                "chunk_grid": {
                    "name": "regular",
                    "configuration": {"chunk_shape": [2, 2, 2]},
                },
                "chunk_key_encoding": {"name": "default"},
                "fill_value": 0,
                "codecs": [
                    {"name": "bytes", "configuration": {"endian": "little"}}
                ],
            }
        )
    )
    with pytest.raises(ChunkStoreError, match="float32"):
        crop_chunk_store(
            spark, str(root), str(tmp_path / "o1"), ((0, 2), (0, 2), (0, 2))
        )

    # v2 store with fill_value=7 and a missing chunk: export shows 7
    vol = np.full((2, 2, 4), 3, dtype=np.uint16)
    zroot = tmp_path / "fillv2.zarr"
    _write_zarr(zroot, vol, (2, 2, 2), None)
    meta = json.loads((zroot / ".zarray").read_text())
    meta["fill_value"] = 7
    (zroot / ".zarray").write_text(json.dumps(meta))
    (zroot / "0.0.1").unlink()  # drop the x=2..3 chunk
    out = tmp_path / "o2"
    crop_chunk_store(
        spark, str(zroot), str(out), ((0, 2), (0, 2), (0, 4))
    ).collect()
    got = decode_tiff((out / "default.0.00000.tif").read_bytes())[0, :, :, 0]
    assert (got[:, 0:2] == 3).all() and (got[:, 2:4] == 7).all()


def test_cli_crop_depth_rejected_for_chunk_store(spark, tmp_path, capsys):
    from hortacloud_importer_spark.cli import main

    root = tmp_path / "d.zarr"
    root.mkdir()
    (root / ".zarray").write_text(
        json.dumps(
            {
                "zarr_format": 2,
                "shape": [2, 2, 2],
                "chunks": [2, 2, 2],
                "dtype": "<u2",
                "compressor": None,
                "order": "C",
                "fill_value": 0,
            }
        )
    )
    (root / "0.0.0").write_bytes(np.zeros(8, dtype="<u2").tobytes())
    with pytest.raises(SystemExit, match="octree stores"):
        main(
            [
                "crop", "-i", str(root), "-o", str(tmp_path / "o"),
                "--z", "0,2", "--y", "0,2", "--x", "0,2", "--depth", "1",
            ]
        )


@pytest.mark.parametrize("kind", ["n5", "zarr2", "zarr3_sharded"])
def test_truncated_chunk_names_its_key(spark, tmp_path, kind):
    """A truncated chunk fails the DataSource read and the crop with a
    ChunkStoreError that names the chunk's key, and the crop fails in
    its tile cut, before any slice is written. (The N5 DataSource read
    is also tests/test_datasource.py::test_corrupt_chunk_names_the_file.)"""
    import re

    from hortacloud_importer_spark.pipelines import crop_chunk_store

    vol = np.arange(1, 65, dtype=np.uint16).reshape(4, 4, 4)
    root = tmp_path / f"bad_{kind}"
    if kind == "n5":
        _write_n5(root, vol, (2, 4, 4))
        key, fmt = "1/0/0", "n5_volume"
    elif kind == "zarr2":
        _write_zarr(root, vol, (4, 4, 2), None)
        key, fmt = "0.0.1", "zarr_volume"
    else:
        _write_zarr_v3_sharded(root, vol, (4, 4, 2), (2, 4, 2), [])
        key, fmt = "c/0/0/1", "zarr_volume"
    chunk = root / key
    chunk.write_bytes(chunk.read_bytes()[:-5])
    named = rf"ChunkStoreError: bad .*chunk .*bad_{kind}/{re.escape(key)}: "
    with pytest.raises(Exception, match=named):
        _read(spark, fmt, root).collect()
    out = tmp_path / f"crop_{kind}"
    with pytest.raises(Exception, match=named):
        crop_chunk_store(
            spark, str(root), str(out), ((0, 4), (0, 4), (0, 4))
        ).collect()
    assert not out.exists() or not list(out.iterdir())
