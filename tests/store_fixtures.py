"""Hand-placed block stores for tests: the engine's own per-file writes
(``write_tiff_block`` / ``write_ktx_block``) plus ONE manifest commit —
the same protocol the build and KTX kernels follow, without a pipeline
run deciding which blocks exist."""

from __future__ import annotations

import numpy as np

from hortacloud_importer_spark.sources import manifest
from hortacloud_importer_spark.sources.datasource import (
    _pa_fs,
    write_ktx_block,
    write_tiff_block,
)


def commit_tiff_blocks(root: str, blocks, depth: int = 2) -> list[str]:
    """Write ``(zi, yi, xi, channel, zyx array)`` blocks at store depth
    ``depth`` (1 = the root, so 2 puts one octant digit in each path)
    as uint16 ZLIB TIFF, all-zero blocks skipped, and commit the written
    files as one manifest shard. Returns the committed relative paths."""
    filesystem, base = _pa_fs(root)
    rels, skipped = [], 0
    for zi, yi, xi, ch, vol in blocks:
        rel = write_tiff_block(
            filesystem, base, np.asarray(vol), zi, yi, xi, ch, depth
        )
        if rel is None:
            skipped += 1
        else:
            rels.append(rel)
    manifest.write_commit(filesystem, base, rels, n_skipped=skipped)
    return rels


def commit_ktx_rows(root: str, rows) -> list[str]:
    """Write encoded KTX rows (``sources/ktx.py::KTX_SCHEMA``; a null
    depth is a single-level store) under ``root`` and commit them as
    one manifest shard. Returns the committed file names."""
    filesystem, base = _pa_fs(root)
    filesystem.create_dir(base, recursive=True)
    names = [
        write_ktx_block(
            filesystem, base, r["zi"], r["yi"], r["xi"], r["depth"] or 0,
            r["channel"], r["ktx"],
        )
        for r in rows
    ]
    manifest.write_commit(filesystem, base, names)
    return names
