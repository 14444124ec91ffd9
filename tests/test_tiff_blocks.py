"""A6 as real files: the block write (``datasource.write_tiff_block``)
emits the reference's actual output layout —
``{octree-path}/default.{ch}.tif``, zlib-compressed, all-zero blocks
skipped (save_block, tiff2octree.py:298-317) — committed through
sources/manifest.py, and the clean-room decoder reads it back."""

from __future__ import annotations

import glob

import numpy as np
from pyarrow import fs as pafs

from hortacloud_importer_spark.sources import manifest
from hortacloud_importer_spark.sources.tiff import decode_tiff
from tests.store_fixtures import commit_tiff_blocks

_FS = pafs.LocalFileSystem()


def _block(vox):
    return np.asarray(vox, dtype=np.int64).reshape(2, 2, 2)


def test_tiff_blocks_sink_roundtrip_and_skip_empty(tmp_path):
    rng = np.random.default_rng(9)
    data = {}
    blocks = []
    for zi, yi, xi in [(0, 0, 0), (1, 0, 1)]:
        vox = [int(v) for v in rng.integers(1, 65535, 8)]
        data[(zi, yi, xi)] = vox
        blocks.append((zi, yi, xi, 0, _block(vox)))
    blocks.append((0, 1, 0, 0, _block([0] * 8)))  # all-zero -> skipped
    out = str(tmp_path / "store")
    commit_tiff_blocks(out, blocks)

    totals = manifest.run_totals(_FS, out)
    assert totals["n_files"] == 2
    assert totals["n_skipped"] == 1
    # octree digit at nlevels=2: 1 + x_bit + 2*y_bit + 4*z_bit
    assert sorted(manifest.committed_files(_FS, out)) == [
        "1/default.0.tif",
        "6/default.0.tif",
    ]

    for (zi, yi, xi), vox in data.items():
        digit = 1 + xi + 2 * yi + 4 * zi
        blob = (tmp_path / "store" / str(digit) / "default.0.tif").read_bytes()
        got = decode_tiff(blob)  # 2 z-pages of 2x2, one sample
        assert got.shape == (2, 2, 2, 1)
        assert got[..., 0].ravel().tolist() == vox
    # zlib actually on: compressed multipage file, not raw 16 bytes/page
    assert len(blob) != 8 + 2 * 8  # not an uncompressed single payload


def test_tiff_blocks_store_reads_back_distributed(spark, tmp_path):
    """Write with the block write, read back with the binaryFile +
    decode path — coordinates recovered from the octree digits, voxels
    byte-exact."""
    from hortacloud_importer_spark.sources.block_store import (
        read_tiff_block_store,
    )

    out = str(tmp_path / "store")
    rng = np.random.default_rng(11)
    blocks, want = [], {}
    for zi, yi, xi, ch in [(0, 0, 0, 0), (1, 1, 0, 1), (0, 1, 1, 0)]:
        vox = [int(v) for v in rng.integers(1, 65535, 8)]
        want[(zi, yi, xi, ch)] = vox
        blocks.append((zi, yi, xi, ch, _block(vox)))
    commit_tiff_blocks(out, blocks)

    back = read_tiff_block_store(spark, out)
    got = {
        (r["zi"], r["yi"], r["xi"], r["channel"]): (r["shape"], r["voxels"])
        for r in back.collect()
    }
    assert set(got) == set(want)
    for k, vox in want.items():
        shape, voxels = got[k]
        assert shape == [2, 2, 2]
        assert voxels == vox


def test_tiff_blocks_store_feeds_resume_anti_join(tmp_path):
    """C4 over the manifest: the committed file list (not a tree walk)
    drives the resume filter."""
    out = str(tmp_path / "store")
    commit_tiff_blocks(out, [(0, 0, 0, 0, _block([5] * 8))])

    committed = manifest.committed_files(_FS, out)
    work = [(0, 0, 0, 0), (1, 0, 1, 0)]  # second block not yet written
    todo = [
        (zi, yi, xi, ch)
        for zi, yi, xi, ch in work
        if f"{1 + xi + 2 * yi + 4 * zi}/default.{ch}.tif" not in committed
    ]
    assert todo == [(1, 0, 1, 0)]


def test_store_channels_from_paths_without_decode(spark, tmp_path):
    """Channel discovery reads file NAMES only: the ids come back even
    when every payload on disk is corrupt, proving no decode ran."""
    from hortacloud_importer_spark.sources.block_store import store_channels

    out = str(tmp_path / "chan_store")
    commit_tiff_blocks(
        out,
        [(0, 0, 0, ch, _block([1, 2, 3, 4, 5, 6, 7, 8])) for ch in (0, 2)],
        depth=1,
    )
    # corrupt every .tif payload; path-only discovery must not care
    for p in glob.glob(f"{out}/**/*.tif", recursive=True):
        with open(p, "wb") as fh:
            fh.write(b"not a tiff")
    assert store_channels(out) == [0, 2]


def test_store_block_meta_one_header_no_decode(spark, tmp_path):
    """store_block_meta reads the extent from ONE file's IFD walk and
    the depth from paths: strip payloads can be garbage everywhere."""
    from hortacloud_importer_spark.sources.block_store import (
        store_block_meta,
    )

    out = str(tmp_path / "meta_store")
    commit_tiff_blocks(
        out,
        [
            (zi, yi, xi, 0, _block([1, 2, 3, 4, 5, 6, 7, 8]))
            for zi, yi, xi in [(0, 0, 0), (1, 1, 1)]
        ],
    )
    shape, max_depth = store_block_meta(out)
    assert shape == (2, 2, 2)
    assert max_depth == 1  # nlevels=2 leaves carry one octant digit


def test_store_block_meta_ignores_uncommitted_leftovers(spark, tmp_path):
    """ADVICE r5: the header probe (min path) and max-depth must apply
    the same committed-manifest filter as the data read — a leftover
    .tif from a killed build could otherwise become the probe file
    (here: wrong dims AND a deeper, lexicographically-smaller path)."""
    from hortacloud_importer_spark.sources.block_store import (
        store_block_meta,
    )
    from hortacloud_importer_spark.sources.tiff import encode_tiff

    out = str(tmp_path / "leftover_meta_store")
    commit_tiff_blocks(out, [(0, 0, 0, 0, _block([1] * 8))])

    # uncommitted leftover: deeper path ("1/1/" sorts before the
    # committed "1/"), different block extent
    leftover = tmp_path / "leftover_meta_store" / "1" / "1"
    leftover.mkdir(parents=True, exist_ok=True)
    (leftover / "default.0.tif").write_bytes(
        encode_tiff(np.full((4, 4, 4), 9, dtype=np.uint16))
    )

    shape, max_depth = store_block_meta(out)
    assert shape == (2, 2, 2)  # committed extent, not the leftover's
    assert max_depth == 1  # leftover's depth-2 path not counted


def test_store_channels_ignores_uncommitted_leftovers(spark, tmp_path):
    """A stray default.5.tif from a killed build must not surface as a
    phantom channel in discovery."""
    from hortacloud_importer_spark.sources.block_store import (
        store_channels,
    )
    from hortacloud_importer_spark.sources.tiff import encode_tiff

    out = str(tmp_path / "phantom_store")
    commit_tiff_blocks(out, [(0, 0, 0, 0, _block([1] * 8))])
    leftover = tmp_path / "phantom_store" / "1"
    (leftover / "default.5.tif").write_bytes(
        encode_tiff(np.full((2, 2, 2), 9, dtype=np.uint16))
    )
    assert store_channels(out) == [0]
