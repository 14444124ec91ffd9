"""A3: hierarchical source discovery over c{i}/s{j} layouts, and each
level listed as one volume (sources/listing.py::hierarchy_volume)."""

from __future__ import annotations

import numpy as np
import pytest

from hortacloud_importer_spark.sources.hierarchy import discover_hierarchy
from hortacloud_importer_spark.sources.listing import hierarchy_volume
from tests.test_listing import read_volume
from tests.test_n5_zarr import _write_n5


def _vol(seed: int, dim: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(1, 60000, (dim, dim, dim)).astype(np.uint16)


@pytest.fixture(scope="module")
def n5_like_store(tmp_path_factory):
    root = tmp_path_factory.mktemp("n5")
    for ch in range(2):
        for s, dim in ((0, 4), (1, 2)):
            _write_n5(root / f"c{ch}" / f"s{s}", _vol(ch, dim), (2, 2, 2))
    return str(root)


def test_discover_channels_and_scales(n5_like_store):
    assert discover_hierarchy(n5_like_store) == {0: [0, 1], 1: [0, 1]}


def test_discover_flat_layout(tmp_path):
    root = tmp_path / "flat"
    _write_n5(root / "s0", _vol(5, 2), (2, 2, 2))
    assert discover_hierarchy(str(root)) == {0: [0]}
    level = hierarchy_volume(str(root), 0)
    assert level.dims == (2, 2, 2)
    assert [c.channel for c in level.channels] == [0]
    assert np.array_equal(read_volume(level)[0], _vol(5, 2))


def test_read_level_unions_channels(n5_like_store):
    """A level's volume holds every channel that has it, each tagged
    with its group's id."""
    for s, dim in ((0, 4), (1, 2)):
        level = read_volume(hierarchy_volume(n5_like_store, s))
        assert sorted(level) == [0, 1]
        for ch in (0, 1):
            assert np.array_equal(level[ch], _vol(ch, dim)), (s, ch)


def test_missing_paths_raise(n5_like_store, tmp_path):
    assert discover_hierarchy(str(tmp_path / "nope")) == {}
    with pytest.raises(FileNotFoundError):
        hierarchy_volume(str(tmp_path / "nope"), 0)
    with pytest.raises(FileNotFoundError):
        hierarchy_volume(n5_like_store, 9)
