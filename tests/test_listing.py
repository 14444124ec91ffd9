"""File-backed volumes listed on the driver (sources/listing.py): what a
region's work row carries, and the windows its task paints. The
formats' end-to-end builds are in tests/test_cli.py."""

from __future__ import annotations

import numpy as np
import pytest

from hortacloud_importer_spark.sources.listing import (
    hierarchy_volume,
    store_volume,
)
from hortacloud_importer_spark.sources.n5 import ChunkStoreError, chunk_store


def read_volume(volume) -> dict[int, np.ndarray]:
    """Every channel of a listed volume painted whole on the driver, as
    one region: {channel id: (z, y, x) int32 array}."""
    out = {}
    for c in volume.channels:
        region = np.zeros(volume.dims, dtype=np.int32)
        c.paint(region, (0, 0, 0), c.items((0, 0, 0), volume.dims))
        out[c.channel] = region
    return out


def test_chunk_items_are_the_cells_a_region_overlaps(tmp_path):
    """A region lists only the chunks its cells overlap, clipped to the
    grid; each paints its own window of them, and the windows tile the
    volume. Edge chunks are clipped to the array's extent."""
    from tests.test_n5_zarr import _write_n5

    rng = np.random.default_rng(7)
    vol = rng.integers(1, 60000, (7, 10, 9)).astype(np.uint16)
    _write_n5(tmp_path / "a.n5", vol, (4, 3, 5), "gzip")  # x, y, z
    (c,) = store_volume([(3, chunk_store(str(tmp_path / "a.n5")))]).channels
    assert c.channel == 3
    keys = c.items((4, 4, 4), (8, 8, 8))
    # chunks are 5 (z) x 3 (y) x 4 (x): z cells 0-1, y cells 1-2, x cell 1
    assert sorted(k[1:] for k in keys) == [
        (z, y, 1) for z in (0, 1) for y in (1, 2)
    ]
    assert c.items((8, 12, 12), (16, 16, 16)) == []  # past the grid
    got = np.zeros((8, 12, 12), dtype=np.int32)
    for lo in np.ndindex(2, 3, 3):
        lo = tuple(i * 4 for i in lo)
        region = np.zeros((4, 4, 4), dtype=np.int32)
        c.paint(region, lo, c.items(lo, tuple(i + 4 for i in lo)))
        got[lo[0] : lo[0] + 4, lo[1] : lo[1] + 4, lo[2] : lo[2] + 4] = region
    assert np.array_equal(got[:7, :10, :9], vol) and not got[7:].any()


def test_missing_chunk_of_a_nonzero_fill_is_a_none_key(tmp_path):
    """A never-written chunk is a ``None`` key when the fill is not
    zero, and is painted as the fill; with a zero fill it is no item."""
    from tests.test_n5_zarr import _write_zarr

    vol = np.arange(64, dtype=np.uint16).reshape(4, 4, 4) + 1
    _write_zarr(tmp_path / "f.zarr", vol, (2, 2, 2), None, fill=7, skip=[(1, 0, 1)])
    volume = store_volume([(0, chunk_store(str(tmp_path / "f.zarr")))])
    keys = volume.channels[0].items((0, 0, 0), (4, 4, 4))
    assert len(keys) == 8
    assert [k for k in keys if k[0] is None] == [(None, 1, 0, 1)]
    want = vol.astype(np.int32)
    want[2:, :2, 2:] = 7
    assert np.array_equal(read_volume(volume)[0], want)

    _write_zarr(tmp_path / "z.zarr", vol, (2, 2, 2), None, skip=[(1, 0, 1)])
    (c,) = store_volume([(0, chunk_store(str(tmp_path / "z.zarr")))]).channels
    assert len(c.items((0, 0, 0), (4, 4, 4))) == 7


def test_hierarchy_channels_must_share_one_shape(tmp_path):
    """Listing a hierarchy level whose channel groups differ in shape
    fails, naming both groups."""
    from tests.test_n5_zarr import _write_n5

    _write_n5(tmp_path / "h" / "c0" / "s0", np.ones((4, 4, 4), np.uint16), (2, 2, 2))
    _write_n5(tmp_path / "h" / "c1" / "s0", np.ones((4, 4, 6), np.uint16), (2, 2, 2))
    msg = r"c1/s0 shape \(4, 4, 6\) != .*c0/s0 shape \(4, 4, 4\)"
    with pytest.raises(ChunkStoreError, match=msg):
        hierarchy_volume(str(tmp_path / "h"))
