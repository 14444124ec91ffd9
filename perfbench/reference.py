"""Independent expected results: a NumPy arthur pyramid of the
generated volume, the octree accounting it implies, and a full-result
checksum that forces every output column of a Spark result."""

from __future__ import annotations

import os
import re

import numpy as np


def arthur_halve(vol: np.ndarray) -> np.ndarray:
    """One 2x2x2 'arthur' halving of an even-extent volume: the second
    largest of the 8 parents, or the largest when the second is zero
    (zeros take part in the sort)."""
    dz, dy, dx = vol.shape
    groups = (
        vol.reshape(dz // 2, 2, dy // 2, 2, dx // 2, 2)
        .transpose(0, 2, 4, 1, 3, 5)
        .reshape(dz // 2, dy // 2, dx // 2, 8)
    )
    s = np.sort(groups, axis=-1)
    first, second = s[..., -1], s[..., -2]
    return np.where(second == 0, first, second)


def pyramid(vol: np.ndarray, nlevels: int) -> list[np.ndarray]:
    levels = [vol.astype(np.int64)]
    for _ in range(nlevels - 1):
        levels.append(arthur_halve(levels[-1]))
    return levels


def octree_expectation(vol: np.ndarray, nlevels: int) -> list[dict]:
    """Per level (0 = leaf): non-empty blocks and voxel sum of an
    ``nlevels`` octree whose blocks all share the leaf block extent."""
    bz, by, bx = (d >> (nlevels - 1) for d in vol.shape)
    out = []
    for level, arr in enumerate(pyramid(vol, nlevels)):
        gz, gy, gx = (d // b for d, b in zip(arr.shape, (bz, by, bx)))
        blocks = arr.reshape(gz, bz, gy, by, gx, bx).any(axis=(1, 3, 5))
        out.append(
            {
                "level": level,
                "blocks": int(blocks.sum()),
                "grid_blocks": int(blocks.size),
                "sum": int(arr.sum()),
            }
        )
    return out


_BLOCK_FILE = re.compile(r"^default\.\d+\.tif$")


def octree_store_levels(root: str, nlevels: int, decode) -> list[dict]:
    """Blocks and voxel sums per level read back from a written octree
    store: a block at octree depth d (digit directories below the
    root) belongs to level nlevels - 1 - d."""
    acc = {lv: {"level": lv, "blocks": 0, "sum": 0} for lv in range(nlevels)}
    for dirpath, _, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        digits = [] if rel == "." else rel.split(os.sep)
        if not all(d.isdigit() for d in digits):
            continue
        level = nlevels - 1 - len(digits)
        for f in files:
            if _BLOCK_FILE.match(f) and level in acc:
                with open(os.path.join(dirpath, f), "rb") as fh:
                    arr = decode(fh.read())
                acc[level]["blocks"] += 1
                acc[level]["sum"] += int(arr.astype(np.int64).sum())
    return [acc[lv] for lv in range(nlevels)]


def tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def checksum_df(df):
    """One-row aggregate over every output column, so nothing in the
    plan can be pruned (a bare .count() lets the optimizer drop the
    value aggregates). Floating values are rounded to 9 significant
    digits first: re-running a shuffle may reorder a float sum and move
    its last bit, which is not a wrong answer."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def canon(col, dtype):
        if isinstance(dtype, (T.DoubleType, T.FloatType)):
            return F.format_string("%.9g", col.cast("double"))
        if isinstance(dtype, T.ArrayType):
            return F.concat_ws(
                ",", F.transform(col, lambda x: canon(x, dtype.elementType))
            )
        return col.cast("string")

    parts = [
        F.coalesce(canon(F.col(f"`{f.name}`"), f.dataType), F.lit("\x00"))
        for f in df.schema.fields
    ]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.concat_ws("\x1f", *parts))).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)
