"""End-to-end pipeline (SURVEY.md §5.2.4): synthetic volume -> octree
block store (skip-empty) -> resume no-op -> pyramid -> KTX blobs, with
the reference's structural invariants."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from hortacloud_importer_spark.pipelines import build_octree
from hortacloud_importer_spark.sources.block_store import read_tiff_block_store
from hortacloud_importer_spark.sources.ktx import decode_ktx, ktx_encode_blocks
from hortacloud_importer_spark.volume import (
    blockify,
    build_pyramid,
    densify,
    synthetic_volume,
    unblockify,
)

DIMS = (16, 16, 16)
BLOCK = (4, 4, 4)
NLEVELS = 3  # block-grid levels (4x4x4 blocks -> octree depth 3)


def test_full_pipeline(spark, tmp_path):
    store = str(tmp_path / "store")
    v = synthetic_volume(spark, *DIMS, channels=1)
    # blank one block so skip-empty has something to skip
    v = v.withColumn(
        "intensity",
        F.when(
            (F.col("z") < 4) & (F.col("y") < 4) & (F.col("x") < 4), F.lit(0)
        ).otherwise(F.col("intensity")),
    )

    # 1. octree build with skip-empty; read back its leaf level
    def build():
        return {
            r["level"]: r["n_blocks_written"]
            for r in build_octree(
                spark, v, store, nlevels=NLEVELS, filter_="max", dims=DIMS,
                channels=1,
            ).collect()
        }

    assert build()[0] == 4 * 4 * 4 - 1  # all-zero block absent (O5)
    stored = read_tiff_block_store(spark, store, depth=NLEVELS - 1)
    assert stored.count() == 4 * 4 * 4 - 1

    # 2. resume over a committed store is a no-op (C4/O10)
    assert build() == {0: 0, 1: 0, 2: 0}

    # 3. pyramid from the stored blocks. The relational form is SPARSE:
    #    a group with no surviving parents emits no child row (absent ==
    #    zero == "no data"), so each level loses exactly the blanked
    #    corner's descendants until it merges with live data at level 3.
    voxels = unblockify(
        stored.select("zi", "yi", "xi", "channel", "voxels", "shape")
    )
    pyr = build_pyramid(voxels, DIMS, 4, "arthur", persist=True)
    expected = {
        0: 16**3 - 4**3,  # stored voxels only (skip-empty corner)
        1: 8**3 - 2**3,  # corner's level-1 children absent
        2: 4**3 - 1,  # level-2 voxel (0,0,0) has only absent children
        3: 2**3,  # level-3 (0,0,0) has 7 live children -> present
    }
    for lv, n in expected.items():
        assert pyr.filter(F.col("level") == lv).count() == n, lv

    # 4. zero-is-NULL as absence: the blanked corner's level-1 keys are
    #    not materialized at all
    lvl1 = {
        (r["z"], r["y"], r["x"]): r["intensity"]
        for r in pyr.filter(F.col("level") == 1).collect()
    }
    assert all(
        (z, y, x) not in lvl1 for z in range(2) for y in range(2) for x in range(2)
    )

    # 5. KTX export of level 1: densify (absent -> 0) at the dense-
    #    payload boundary, then encode; blobs decode back to the level
    lvl1_dense = densify(
        pyr.filter(F.col("level") == 1).select("z", "y", "x", "channel", "intensity"),
        spark,
        (8, 8, 8),
    )
    lvl1 = {
        (r["z"], r["y"], r["x"]): r["intensity"] for r in lvl1_dense.collect()
    }
    lvl1_blocks = blockify(lvl1_dense, (8, 8, 8)).withColumn("level", F.lit(0))
    blobs = ktx_encode_blocks(lvl1_blocks).collect()
    assert len(blobs) == 1
    header, mipmaps = decode_ktx(bytes(blobs[0]["ktx"]))
    assert (header.pixel_depth, header.pixel_height, header.pixel_width) == (8, 8, 8)
    arr = np.frombuffer(mipmaps[0], dtype=np.uint16).reshape(8, 8, 8)
    for (z, y, x), want in lvl1.items():
        assert arr[z, y, x] == want


def test_reference_pipeline_tiff_to_ktx(spark, tmp_path):
    """The COMPLETE reference pipeline over REAL files: per-channel
    TIFF z-stacks (the reference's default.0.tif / default.1.tif
    rendered specimen) -> binaryFile scan -> executor-side page decode
    -> voxel grid -> arthur pyramid -> ONE interleaved 2-channel KTX
    -> file sink -> binaryFile read-back -> exact voxel equality.
    This is tiff2octree + ktx_from_rendered_tiff end to end."""
    from hortacloud_importer_spark.operators.multimodal import _decode_one
    from hortacloud_importer_spark.sources.ktx import ktx_decode_blocks
    from hortacloud_importer_spark.sources.tiff import encode_tiff
    from hortacloud_importer_spark.volume import mipmap_dimension
    from tests.store_fixtures import commit_ktx_rows

    dims = (8, 8, 8)
    rng = np.random.default_rng(17)
    stacks = {
        ch: rng.integers(0, 65535, dims, dtype=np.uint16) for ch in (0, 1)
    }
    src_dir = tmp_path / "tiff_in"
    src_dir.mkdir()
    for ch, stack in stacks.items():
        (src_dir / f"default.{ch}.tif").write_bytes(encode_tiff(stack))

    # 1. ingest: binaryFile -> pages -> (channel, z, y, x, intensity)
    import pandas as pd

    def to_voxels(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                ch = int(row.path.rsplit("default.", 1)[1].split(".")[0])
                pages = _decode_one("tiff", bytes(row.content), None)
                for z in range(pages.shape[0]):
                    for y in range(pages.shape[1]):
                        for x in range(pages.shape[2]):
                            out.append(
                                {
                                    "channel": ch,
                                    "z": z,
                                    "y": y,
                                    "x": x,
                                    "intensity": int(pages[z, y, x, 0]),
                                }
                            )
            yield pd.DataFrame(out)

    voxels = (
        spark.read.format("binaryFile")
        .load(f"file://{src_dir}/*.tif")
        .mapInPandas(to_voxels, "channel int, z int, y int, x int, intensity int")
    )

    # 2. arthur pyramid per channel, blockified per level
    pyr = build_pyramid(voxels, dims, 3, "arthur", persist=False)
    per_level = []
    d = dims
    for lv in range(3):
        per_level.append(
            blockify(pyr.filter(F.col("level") == lv), d).withColumn(
                "level", F.lit(lv)
            )
        )
        d = tuple(mipmap_dimension(1, x) for x in d)
    stacked = per_level[0]
    for b in per_level[1:]:
        stacked = stacked.unionByName(b)

    # 3. ONE interleaved 2-channel KTX per block -> files -> read back
    out_dir = tmp_path / "ktx_out"
    commit_ktx_rows(
        str(out_dir), ktx_encode_blocks(stacked, interleave=True).collect()
    )
    back = (
        spark.read.format("binaryFile")
        .load(f"file://{out_dir}/*.ktx")
        .select(F.col("content").alias("ktx"))
    )
    decoded = ktx_decode_blocks(back)

    # 4. level-0 voxels must equal the TIFF input bit-for-bit
    got = decoded.filter(F.col("level") == 0).collect()
    assert {r["channel"] for r in got} == {0, 1}
    for r in got:
        arr = np.asarray(r["voxels"], dtype=np.uint16).reshape(dims)
        assert np.array_equal(arr, stacks[r["channel"]])
    # and the pyramid shrinks 8x per level inside the same container
    sizes = {
        r["level"]: r["n_bytes"] for r in got + decoded.filter(F.col("level") > 0).collect()
    }
    assert sizes[0] == 8 * sizes[1] == 64 * sizes[2]
