"""Hierarchical multi-channel / multi-scale source discovery (§2.A3).

The reference probes N5/Zarr group layouts — ``{root}/c{i}/s{j}``
(channel i, scale j) vs flat ``{root}/s{j}`` — by listing subgroups
(tiff2octree.py:711-777 ``check_n5_channels``/``check_n5_levels``)
and builds one lazy array per (channel, level). Here the store is
listed on the driver through pyarrow (``_pa_fs``, as the chunk stores
are read: local disk or ``s3://``/``s3a://``); a level's groups, one
N5 dataset or Zarr array per channel, become one listed volume
(``sources/listing.py::hierarchy_volume``) whose tasks read their own
chunks by path.
"""

from __future__ import annotations

import re

_CHANNEL_RE = re.compile(r"^c(\d+)$")
_SCALE_RE = re.compile(r"^s(\d+)$")


def _child(root: str, name: str) -> str:
    """``root/name``, with any ``?filesystem`` options of the root
    following the child (pyarrow rebuilds the filesystem from them)."""
    bare, q, query = root.partition("?")
    return f"{bare.rstrip('/')}/{name}{q}{query}"


def _list_dirs(root: str) -> list[str]:
    """The names of the directories directly in ``root`` (none when it
    does not exist), listed through pyarrow (``_pa_fs``), as the chunk
    stores are: local paths and ``s3://``/``s3a://`` URIs alike. A
    file has none."""
    from pyarrow import fs as pafs

    from hortacloud_importer_spark.sources.datasource import _pa_fs

    filesystem, base = _pa_fs(root)
    try:
        infos = filesystem.get_file_info(
            pafs.FileSelector(base.rstrip("/"), allow_not_found=True)
        )
    except NotADirectoryError:
        return []
    return [i.base_name for i in infos if i.type == pafs.FileType.Directory]


def discover_hierarchy(root: str) -> dict[int, list[int]]:
    """Probe the layout: {channel: [scale, ...]}. A flat ``s{j}``
    layout (no channel groups) reports as channel 0, matching the
    reference's fallback (tiff2octree.py:758-777)."""
    channels: dict[int, list[int]] = {}
    names = _list_dirs(root)
    chan_dirs = {int(m.group(1)): n for n in names if (m := _CHANNEL_RE.match(n))}
    if chan_dirs:
        for ch, dirname in sorted(chan_dirs.items()):
            scales = [
                int(m.group(1))
                for n in _list_dirs(_child(root, dirname))
                if (m := _SCALE_RE.match(n))
            ]
            channels[ch] = sorted(scales)
        return channels
    scales = [int(m.group(1)) for n in names if (m := _SCALE_RE.match(n))]
    if scales:
        channels[0] = sorted(scales)
    return channels


def _level_groups(root: str, scale: int) -> list[tuple[int, str]]:
    """(channel, group path) of every channel that has scale ``scale``."""
    layout = discover_hierarchy(root)
    if not layout:
        raise FileNotFoundError(f"no c*/s* hierarchy under {root}")
    has_channel_dirs = any(_CHANNEL_RE.match(n) for n in _list_dirs(root))
    groups = [
        (
            ch,
            _child(root, f"c{ch}/s{scale}" if has_channel_dirs else f"s{scale}"),
        )
        for ch, scales in layout.items()
        if scale in scales
    ]
    if not groups:
        raise FileNotFoundError(f"scale s{scale} absent under {root}")
    return groups
