"""Stateful streaming mipmap cascade (SURVEY.md §2.I2).

The reference consumes z-slices one at a time and incrementally
updates every deeper mipmap level with bounded state: a deque of at
most 3 parent slices per level; a daughter slice is emitted for every
2 parents (3 at the odd-dimension pivot — the "thick middle slice",
ktx_from_rendered_tiff.py:253-305). Here that becomes:

- :class:`MipmapCascade` — the per-block bounded-state kernel (pure
  NumPy, no Spark), emitting (level, z, slice) as parents arrive.
- :func:`streaming_cascade` — the same kernel as a Structured
  Streaming stateful operator via ``applyInPandasWithState`` keyed by
  (block, channel); state is the pickled cascade (bounded: <= 3
  slices x nlevels), so executor memory stays O(slice), never
  O(volume) — the reference's small-memory property, distributed.

Zero-is-NULL semantics and the odd-dimension contributor mapping are
identical to volume/downsample.py (one shared rule; property-tested
against the batch pyramid in tests/test_streaming.py).
"""

from __future__ import annotations

import pickle
from collections import deque

import numpy as np

from hortacloud_importer_spark.volume.downsample import (
    mipmap_dimension,
    np_child_indices,
    np_halve,
)


class MipmapCascade:
    """Bounded-state per-block cascade: feed level-0 z-slices in
    order; deeper levels emit as soon as their parents are complete."""

    def __init__(self, dims: tuple[int, int, int], filter_: str = "arthur"):
        self.filter_ = filter_
        self.level_dims = [dims]
        d = dims
        while max(d) > 1:
            d = tuple(mipmap_dimension(1, x) for x in d)
            self.level_dims.append(d)
        self.nlevels = len(self.level_dims)
        # per level >= 1: the parent z indices each daughter slice owns
        # (np_child_indices, grouped), deque of pending parents
        self.zgroups = []
        for lv in range(1, self.nlevels):
            child = np_child_indices(self.level_dims[lv - 1][0])
            self.zgroups.append(
                [np.flatnonzero(child == c) for c in range(child[-1] + 1)]
            )
        self.buffers: list[deque] = [deque(maxlen=3) for _ in range(self.nlevels - 1)]
        self.seen = [0] * (self.nlevels - 1)  # parents consumed per level
        self.emitted = [0] * (self.nlevels - 1)  # daughters emitted per level

    def feed(self, z: int, slice2d: np.ndarray) -> list[tuple[int, int, np.ndarray]]:
        """Feed level-0 slice ``z``; returns emitted (level, z, slice)."""
        out: list[tuple[int, int, np.ndarray]] = []
        self._feed_level(1, z, slice2d, out)
        return out

    def _feed_level(self, level, parent_z, slice2d, out) -> None:
        if level >= self.nlevels:
            return
        li = level - 1
        assert parent_z == self.seen[li], "slices must arrive in z order"
        self.buffers[li].append(slice2d)
        self.seen[li] += 1
        groups = self.zgroups[li]
        child = self.emitted[li]
        if child >= len(groups) or parent_z != groups[child][-1]:
            return
        k = len(groups[child])  # 1, 2, or 3 (thick middle) parents
        parents = np.stack(list(self.buffers[li])[-k:])
        daughter = np_halve(parents, self.filter_)[0]
        self.emitted[li] += 1
        out.append((level, child, daughter))
        self._feed_level(level + 1, child, daughter, out)


# --- Structured Streaming wrapper ------------------------------------------

CASCADE_OUTPUT_SCHEMA = (
    "zi int, yi int, xi int, channel int, level int, z int,"
    " height int, width int, voxels array<long>"
)
CASCADE_STATE_SCHEMA = "state binary"


def streaming_cascade(
    slices,  # streaming DataFrame: zi,yi,xi,channel,z,height,width,voxels
    dims: tuple[int, int, int],
    filter_: str = "arthur",
):
    """I2 as a streaming stateful operator. Each micro-batch feeds the
    per-(block, channel) cascade; state is the pickled kernel (bounded
    by 3 slices per level). Input slices must arrive in z order per
    key across batches — the reference makes the same assumption of
    its slice iterator (ktx_from_rendered_tiff.py:331-342)."""
    import pandas as pd

    def process(key, pdf_iter, state):
        if state.exists:
            cascade = pickle.loads(state.get[0])
        else:
            cascade = MipmapCascade(dims, filter_)
        zi, yi, xi, ch = (int(k) for k in key)
        rows = []
        # a key's rows can span multiple Arrow chunks within one
        # micro-batch in arbitrary shuffle order — materialize the
        # whole batch and sort ONCE so the z-order contract holds
        # inside the batch (cross-batch ordering stays the documented
        # source assumption)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        batch = (
            pd.concat(chunks, ignore_index=True).sort_values("z")
            if chunks
            else pd.DataFrame()
        )
        if len(batch):
            for row in batch.itertuples():
                h, w = int(row.height), int(row.width)
                arr = np.asarray(row.voxels, dtype=np.int64).reshape(h, w)
                for level, z, daughter in cascade.feed(int(row.z), arr):
                    rows.append(
                        {
                            "zi": zi,
                            "yi": yi,
                            "xi": xi,
                            "channel": ch,
                            "level": level,
                            "z": z,
                            "height": daughter.shape[0],
                            "width": daughter.shape[1],
                            "voxels": daughter.ravel(),
                        }
                    )
        state.update((pickle.dumps(cascade),))
        yield pd.DataFrame(
            rows,
            columns=[
                "zi", "yi", "xi", "channel", "level", "z",
                "height", "width", "voxels",
            ],
        )

    return slices.groupBy("zi", "yi", "xi", "channel").applyInPandasWithState(
        process,
        CASCADE_OUTPUT_SCHEMA,
        CASCADE_STATE_SCHEMA,
        "append",
        "NoTimeout",
    )
