"""Golden bytes of the octree build and the KTX conversion.

A seeded slice directory goes through ``build_octree`` (arthur, three
levels) and then ``tiff_octree_to_ktx``; every ``.tif`` and ``.ktx``
data file must hash to a recorded sha256. Manifests are left out (they
carry run ids and timestamps). The store directories keep fixed names
because the KTX header's specimen id is the store's directory name.

Change the digests only for an intended change to the stored bytes:
a failing check prints the new table in the form used below.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pytest

from hortacloud_importer_spark.pipelines import (
    build_octree,
    tiff_octree_to_ktx,
)
from hortacloud_importer_spark.sources.tiff import encode_tiff


def _write_slices(d, vols):
    """vols: one (z, y, x) uint16 volume per channel."""
    os.makedirs(d, exist_ok=True)
    for ch, vol in enumerate(vols):
        for z, sl in enumerate(vol):
            with open(os.path.join(d, f"default.{ch}.{z:03d}.tif"), "wb") as fh:
                fh.write(encode_tiff(sl[None, ...]))


def _volume(seed, dims, box):
    """Random uint16 with 30% zeros inside ``box``, zero outside it,
    so skip-empty drops most blocks at every level."""
    rng = np.random.default_rng(seed)
    vol = np.zeros(dims, dtype=np.uint16)
    inner = vol[box].shape
    vol[box] = rng.integers(1, 1 << 16, size=inner)
    vol[box][rng.random(size=inner) < 0.3] = 0
    return vol


def _digests(root):
    out = {}
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        for f in files:
            if f.endswith((".tif", ".ktx")):
                p = os.path.join(dirpath, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = hashlib.sha256(
                        fh.read()
                    ).hexdigest()
    return dict(sorted(out.items()))


def _check(got, want):
    """got / want: {table name: {relative path: sha256}}."""
    for name in got:
        table = "".join(f'    "{k}": "{v}",\n' for k, v in got[name].items())
        assert got[name] == want[name], f"\n{name} = {{\n{table}}}"


@pytest.fixture(scope="module")
def golden_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("golden")


def test_golden_single_channel_build_and_ktx(spark, golden_dir):
    slices = str(golden_dir / "slices1")
    box = np.s_[:8, :16, 8:24]  # 8 leaf blocks, 2 level-1, the root
    _write_slices(slices, [_volume(5, (16, 32, 32), box)])
    store = str(golden_dir / "store1")
    build_octree(spark, slices, store, nlevels=3, filter_="arthur").count()
    ktx = str(golden_dir / "ktx1")
    tiff_octree_to_ktx(
        spark, store, ktx, block_dims=(4, 8, 8), n_mips=3,
        downsample_intensity=True,
    ).count()
    _check(
        {"STORE1": _digests(store), "KTX1": _digests(ktx)},
        {"STORE1": STORE1, "KTX1": KTX1},
    )


def test_golden_two_channel_build_and_interleaved_ktx(spark, golden_dir):
    slices = str(golden_dir / "slices2")
    # dims off the block grid (zero padding on every axis) and odd
    # block extents (the assemble-first pyramid plan); the data box
    # reaches the padded far edge in z and y
    dims, box = (11, 19, 26), np.s_[6:, 10:, 7:21]
    _write_slices(slices, [_volume(7, dims, box), _volume(8, dims, box)])
    store = str(golden_dir / "store2")
    build_octree(
        spark, slices, store, nlevels=3, filter_="arthur", channels=2
    ).count()
    ktx = str(golden_dir / "ktx2")
    tiff_octree_to_ktx(
        spark, store, ktx, block_dims=(3, 5, 7), n_mips=2,
        downsample_intensity=True, interleave=True,
    ).count()
    _check(
        {"STORE2": _digests(store), "KTX2": _digests(ktx)},
        {"STORE2": STORE2, "KTX2": KTX2},
    )


STORE1 = {
    "1/2/default.0.tif": "fd31db275878624f6503e7490b2055431ced5482d899af0ef126a27be71acda7",
    "1/4/default.0.tif": "aa37f1896c015fc323f8c789f54089349763035ddc783a753789515044a34aa6",
    "1/6/default.0.tif": "813e662343f0615baaa1494b3cb19c6671522bc36abe5ecd467076cd3f42adb4",
    "1/8/default.0.tif": "7257b1ab75284bc98efe63ff893b081a769655272502afc5afa925bfb1d612bd",
    "1/default.0.tif": "f737d5613704d2daf5e227f991bc1fdd01234f30076abdc3e68f283d0e66b30f",
    "2/1/default.0.tif": "27eb5898e907fc31c0a20e5a23e45e475beee910aa95e73ddfd3a2ad51f0bbdd",
    "2/3/default.0.tif": "d86ff0a0db92289464c139f6c25eacc1c109157d58ab2d298595b358d81daaee",
    "2/5/default.0.tif": "7b3248fc4500b9a6862081491cee77f0b485dc2c556db483f724b254160f1c90",
    "2/7/default.0.tif": "0228c68764ffbc131e08c8bb0317b650899690bdc9ba85f4c9b527db1e1fef8c",
    "2/default.0.tif": "fec974c0373a46b67bb40fd1939c67bb49dd8e38c680afcb7d75e4d3b7175d29",
    "default.0.tif": "f1a0eee697fb36b7c8dacbc6cbd53d73f33d876e92e884947062ed27f16fc42e",
}

KTX1 = {
    "block_0_0_0_ch0.ktx": "affa8b495e42ff2095c48a96370107800d973ef7d0a39f2b7f18694d7284cc78",
    "block_0_0_0_d1_ch0.ktx": "17889c21a101d69425d360d9ec648c721e986c13e7bd96389c2a610ba96dab88",
    "block_0_0_1_d1_ch0.ktx": "baf223439a4e0ba3c9c4993384baad3b79b977f09464efb7c47ec91f138da483",
    "block_0_0_1_d2_ch0.ktx": "8808d1f0f6e2e3ac26a36ee77dfa642c894459b75be5ed4142896a468e459481",
    "block_0_0_2_d2_ch0.ktx": "917b2a4ec9fcb94cf16691d1e2764794fb12b3d0fa5e8cd7cf27909da82ee055",
    "block_0_1_1_d2_ch0.ktx": "8d7dcbe3091973048ff9277d343159aacd8cfc59c41bdec26fc40dcfdc4f4884",
    "block_0_1_2_d2_ch0.ktx": "72aec0786cbee4292a4f4e6be76b66934efb6cf25f4242e7d4c93341ab379d9c",
    "block_1_0_1_d2_ch0.ktx": "b055f170d9e3e8973d3d7a5c6a6eaeb454bfef44e33e72be488f258ad3158eb9",
    "block_1_0_2_d2_ch0.ktx": "114b45ba9b1c1a2d9fd3d766513d4b89dbdacd56d484cfb9500e9dccf2b57c2f",
    "block_1_1_1_d2_ch0.ktx": "a6a7958be6d4b778125c5fc70dc2a42a472227f9b9a583f4121caa9e4d257cb9",
    "block_1_1_2_d2_ch0.ktx": "7d1b6f622ee03f47174753075ae6190dc4da137daf3de60b3f10d4fdc707024f",
}

STORE2 = {
    "7/2/default.0.tif": "5400db29b0a2d629c7841c523d2d1414bf73f6c106e370854676a397a865af46",
    "7/2/default.1.tif": "01f05c48f21f99b0da479f50c5692560398d015193a3f9e0193eae60e0187113",
    "7/4/default.0.tif": "e1bbeb993c10dd8b6447950e6afe816b4ef13ec86ba4745768ef82b059800214",
    "7/4/default.1.tif": "fa51454e0aef2b56c260157e29ee2aa6a776b20cb565a971e478478427abc880",
    "7/6/default.0.tif": "7a2621343a322dffcc84d9f84f1f34c82f901d63074196961bf4e06c1f978992",
    "7/6/default.1.tif": "5b325b8edf2d6174e1434fd2fdf3d15505daf7ff78b722098d288d0bf4a9f630",
    "7/8/default.0.tif": "b81fce1c00aeae34f0f3d7b4d8c5423f8321093fd34c4df26509a889d8ded3a9",
    "7/8/default.1.tif": "1f3f839db9ef6c06e6dd7d9e89ff3bebc5431c07ef9cb30f89a1b8b151acae1e",
    "7/default.0.tif": "471f9ed32926511fa72b270f1cfcd7b6d8e517cd0dd0546c38dfa9aaba5a04ef",
    "7/default.1.tif": "53a8bb45d54697ce9ceb81580b203a921aff2d5b1b14c5bc1fef03c6e6639036",
    "8/1/default.0.tif": "b30ce112bf300dcca4303a1b567b951964b771e8d5a77a621c720d18eef2c3a3",
    "8/1/default.1.tif": "e0ec439c1024e43a17191ce074c5f49d5a4d79091feaae5d82abf8d7dd106dc6",
    "8/3/default.0.tif": "3c0a13c683838eaa8c5ae2d9739b6227c816be6020513aae01ec5b0f6f2c35a8",
    "8/3/default.1.tif": "ce0addff8f074acfebac48e063894e5571da526a01d54614674dfb67827d5c09",
    "8/5/default.0.tif": "bcdd3b64b95c6e804e52bccc02cc5f49e4ab4755427634dd777c14da9b8de369",
    "8/5/default.1.tif": "18ca8aa5c04f9261ee01768a6e97f21b1140e5e1f1aaf150957001c41f44a4ba",
    "8/7/default.0.tif": "23fd305b5a29f9710a0b262b6f44f4400f4315df7635a9b9b7d8d2a98c3ad3f8",
    "8/7/default.1.tif": "f4bab96891975e0a0e1b76bb7522a777f18ea01d975e84aca3487c617f4ff81e",
    "8/default.0.tif": "5a732f164c7a3d419180b06f7faaaa6db02b3b63d873210f1fbf2245c58750d3",
    "8/default.1.tif": "060884570b25921c284f203993846a21e81f3a49406e46fcc8294a9765bd1495",
    "default.0.tif": "8f85a18296417aac202fa5a11e4a1d2b0e162e4fec5926b44d6ad3c1566b8084",
    "default.1.tif": "6b386a07230d413da0e5dc333acd8965bf53879fa65adb7fe7062e9e3c9933c6",
}

KTX2 = {
    "block_0_0_0_ch-1.ktx": "e2cbfc8842b9519e9b5a5e3d2664761629dd5152b31935c1c4cc149568ec3d60",
    "block_1_1_0_d1_ch-1.ktx": "4bd8b52ce719ff45aee05765f33056bc017ae4a9de8f9daaf1ed1bbdf54fc100",
    "block_1_1_1_d1_ch-1.ktx": "83d046515e420a0b75ec517176ba0023651de61a13bfae5a5177eba8371015f7",
    "block_2_2_1_d2_ch-1.ktx": "45aca3e235d6ce6cbf37f2c5db56d0cba3fd17e25aafed2d04d13a98322b209d",
    "block_2_2_2_d2_ch-1.ktx": "e8a336d4a3c454c2a4368c0250323d506c929ecdd2c78da679e83b980b340fc2",
    "block_2_3_1_d2_ch-1.ktx": "35667cd243b61e990e9412424bc2358bfe2f7bd5ed268ca5e7140f30739a27ac",
    "block_2_3_2_d2_ch-1.ktx": "0c794110a1a2fcf244b1a9bfd9a9d4a9c3c52c87049eb15999d1b6147c43c56f",
    "block_3_2_1_d2_ch-1.ktx": "020fddcb45fffe9dc488f5de457a824d8b8a95d72885de5e932ad308e3cfd01b",
    "block_3_2_2_d2_ch-1.ktx": "c92b25916d7b3a99b83078c2fc99f1155a58aa50d36b6f6a6e0f062842a5ccca",
    "block_3_3_1_d2_ch-1.ktx": "974eb2ce0bfc7de82a461ab1d7780bd8aae90958a412ccd3a1afc03ec7e29eff",
    "block_3_3_2_d2_ch-1.ktx": "2deb984983f878dbcc2cfc675e46a1ac4936e5ff1a2e09293ded086e13ae0d6d",
}
