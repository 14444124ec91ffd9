"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs. Nothing here imports the engine package, so the
inputs (and the TIFF bytes the slice writer emits) do not change when
the engine does.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- volume


def volume(
    seed: int, dims: tuple[int, int, int], block: tuple[int, int, int]
) -> np.ndarray:
    """uint16 (z, y, x) volume: ~30% zero voxels, one whole empty
    octant, and a fifth of the other ``block``-sized leaf blocks
    zeroed, so the octree build's skip-empty path fires on every
    level below the root. The seed moves the empty regions, not how
    many there are, so every seed asks for the same amount of work."""
    rng = np.random.default_rng((seed, 1))
    vol = rng.integers(1, 4096, size=dims, dtype=np.uint16)
    vol[rng.random(dims) < 0.3] = 0
    grid = tuple(d // b for d, b in zip(dims, block))
    octant = tuple(int(v) for v in rng.integers(0, 2, size=3))
    half = tuple(g // 2 for g in grid)
    others = [
        idx
        for idx in np.ndindex(grid)
        if any(i // h != o for i, h, o in zip(idx, half, octant))
    ]
    empty = [idx for idx in np.ndindex(grid) if idx not in others]
    empty += [others[i] for i in rng.choice(len(others), len(others) // 5, replace=False)]
    bz, by, bx = block
    for iz, iy, ix in empty:
        vol[iz * bz : (iz + 1) * bz, iy * by : (iy + 1) * by, ix * bx : (ix + 1) * bx] = 0
    return vol


def tiff_bytes(page: np.ndarray) -> bytes:
    """Minimal little-endian baseline TIFF: one uncompressed uint16
    strip, grayscale."""
    page = np.ascontiguousarray(page, dtype="<u2")
    h, w = page.shape
    data = page.tobytes()
    entries = [
        (256, 4, w),  # ImageWidth (LONG)
        (257, 4, h),  # ImageLength
        (258, 3, 16),  # BitsPerSample (SHORT)
        (259, 3, 1),  # Compression: none
        (262, 3, 1),  # Photometric: min-is-black
        (273, 4, 0),  # StripOffsets (patched below)
        (277, 3, 1),  # SamplesPerPixel
        (278, 4, h),  # RowsPerStrip
        (279, 4, len(data)),  # StripByteCounts
    ]
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * len(entries) + 4
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", len(entries))
    for tag, typ, val in entries:
        if tag == 273:
            val = data_off
        if typ == 3:
            out += struct.pack("<HHIHH", tag, typ, 1, val, 0)
        else:
            out += struct.pack("<HHII", tag, typ, 1, val)
    out += struct.pack("<I", 0)
    return bytes(out) + data


def slice_name(z: int) -> str:
    return f"slice.{z:05d}.tif"


def write_slice(directory: str, z: int, page: np.ndarray) -> None:
    """Write slice ``z`` atomically (the stream source lists by
    suffix, so a half-written file is never visible)."""
    final = os.path.join(directory, slice_name(z))
    tmp = final + ".part"
    with open(tmp, "wb") as fh:
        fh.write(tiff_bytes(page))
    os.replace(tmp, final)


def write_slices(directory: str, vol: np.ndarray) -> None:
    os.makedirs(directory, exist_ok=True)
    for z in range(vol.shape[0]):
        write_slice(directory, z, vol[z])


def stream_schedule(seed: int, n: int, rate: float) -> list[float]:
    """Due times, in seconds from the stream's start, of ``n`` slices
    arriving at ``rate`` slices/s. Each is late by a seeded tenth of a
    period at most, so the slices stay due in z order."""
    rng = np.random.default_rng((seed, 2))
    return [(z + 0.1 * float(j)) / rate for z, j in enumerate(rng.random(n))]


# ---------------------------------------------------------------- corpus

_STOP = np.array(
    "the a of and to in is for on with as by at from it this".split(), dtype=object
)
_LANGS = np.array(["en", "de", "fr", "es", "zh"], dtype=object)


def corpus(seed: int, n_docs: int, n_vecs: int, out_dir: str) -> dict:
    """``documents.parquet`` + ``embeddings.parquet`` in the fixture
    schema. Doc ids ending in 9 are exact copies of the id ending in 0
    of their decade; ids ending in 8 copy the id ending in 1 with ~5%
    of words replaced (planted near-duplicates). Returns the planted
    pairs for recall/precision accounting."""
    rng = np.random.default_rng((seed, 3))
    n_topics = max(8, n_docs // 500)
    vocab = np.array([f"w{i:05d}" for i in range(n_topics * 400 + 800)], dtype=object)
    ranks = np.arange(1, 1201, dtype=np.float64)
    probs = (1.0 / ranks) / np.sum(1.0 / ranks)

    def words(doc: int) -> np.ndarray:
        r = np.random.default_rng((seed, 4, doc))
        n = int(r.integers(40, 160))
        topic = doc % n_topics
        window = vocab[topic * 400 : topic * 400 + 1200]
        n_stop = n // 3
        mixed = np.concatenate(
            [r.choice(window, size=n - n_stop, p=probs), r.choice(_STOP, size=n_stop)]
        )
        r.shuffle(mixed)
        return mixed

    texts = []
    exact, near = [], []
    for doc in range(n_docs):
        last = doc % 10
        if last == 9 and doc >= 9:
            w = words(doc - 9)
            exact.append((doc - 9, doc))
        elif last == 8 and doc >= 7:
            w = words(doc - 7).copy()
            k = max(1, len(w) // 20)
            idx = rng.choice(len(w), size=k, replace=False)
            w[idx] = rng.choice(vocab, size=k)
            near.append((doc - 7, doc))
        else:
            w = words(doc)
        texts.append(" ".join(w.tolist()))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_LANGS[np.arange(n_docs) % len(_LANGS)].tolist()),
            "source": pa.array([f"src{(d // 7) % 20}" for d in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    dim, n_clusters = 64, 10
    centroids = rng.standard_normal((n_clusters, dim))
    labels = rng.integers(0, n_clusters, size=n_vecs)
    vecs = (centroids[labels] + 0.3 * rng.standard_normal((n_vecs, dim))).astype(
        np.float32
    )
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"exact": exact, "near": near}
