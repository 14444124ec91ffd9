"""Command-line front door mirroring the reference's tools.

The reference is driven by ``python tiff2octree.py`` (argparse at
tiff2octree.py:1170-1192) with the KTX pass folded in behind
``--ktx``/``--ktxonly``/``--ktxout``. This module keeps the same flag
names and defaults wherever the concept carries over so a user can
switch by swapping the program name:

    python -m hortacloud_importer_spark octree \
        -i /data/slices -o /data/octree -l 3 -d 2ndmax \
        --origin 0,0,0 --voxsize 1.0,1.0,1.0 --ktx --ktxout /data/ktx

Cluster flags differ BY DESIGN: the reference's ``-t/--thread``,
``--lsf``, ``--cluster``, ``--memory``, ``--project``, ``--maxjobs``,
``--walltime``, ``--maxbatch`` configure its Dask/LSF scheduler, which
Spark replaces with spark-submit / cluster-manager configuration
(``--master``, executor counts, dynamic allocation). See MIGRATION.md
for the full mapping.
"""

from __future__ import annotations

import argparse
import json
import sys

# reference downsample names (tiff2octree.py:1177) -> engine kernels
FILTER_ALIASES = {
    "area": "mean",
    "mean": "mean",
    "2ndmax": "arthur",
    "arthur": "arthur",
    "max": "max",
    "aa": "aa",
    "spline": "spline3",
    "spline3": "spline3",
}


def _triple(s: str, cast=float) -> tuple:
    parts = [cast(p) for p in s.split(",")]
    if len(parts) != 3:
        raise argparse.ArgumentTypeError(f"need 3 comma-separated values: {s!r}")
    return tuple(parts)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="hortacloud_importer_spark",
        description="PySpark octree/KTX builder (reference-compatible flags)",
    )
    sub = ap.add_subparsers(dest="command", required=True)

    oct_p = sub.add_parser(
        "octree", help="slices/stacks -> octree-of-TIFF-blocks store"
    )
    oct_p.add_argument(
        "-i", "--inputdir", default="", help="input slice directory"
    )
    oct_p.add_argument(
        "-f",
        "--inputfile",
        default="",
        help="input multi-page image stack(s) (path or glob)",
    )
    oct_p.add_argument("-o", "--output", required=True, help="output store")
    oct_p.add_argument(
        "-l",
        "--level",
        type=int,
        default=-1,
        help="number of levels (-1 = auto: smallest leaf under 512^3)",
    )
    oct_p.add_argument(
        "-d",
        "--downsample",
        default="area",
        choices=sorted(FILTER_ALIASES),
        help="downsample method: 2ndmax, area, aa (anti-aliasing), spline",
    )
    oct_p.add_argument(
        "-c",
        "--channel",
        type=int,
        default=0,
        help="channel id for a stack (-f) or a single N5/Zarr store (-i)",
    )
    oct_p.add_argument(
        "--channels",
        type=int,
        default=1,
        help="channel count for slice-directory input (-i, default.{ch}.{z} naming)",
    )
    oct_p.add_argument(
        "--origin",
        type=lambda s: _triple(s, float),
        default=(0.0, 0.0, 0.0),
        help="corner of the top-level image in nanometers (x,y,z)",
    )
    oct_p.add_argument(
        "--voxsize",
        type=lambda s: _triple(s, float),
        default=(1.0, 1.0, 1.0),
        help="voxel size of the top-level image in um (x,y,z)",
    )
    oct_p.add_argument(
        "--resume",
        action="store_true",
        help="skip blocks already committed in the store manifest",
    )
    oct_p.add_argument("--dtype", default="uint16", help="block sample dtype")
    oct_p.add_argument(
        "--ktx", action="store_true", help="also generate a KTX octree"
    )
    oct_p.add_argument(
        "--ktxonly",
        action="store_true",
        help="only generate the KTX octree (input must be an existing store)",
    )
    oct_p.add_argument(
        "--ktxout", default=None, help="output directory for the KTX octree"
    )
    oct_p.add_argument(
        "--mips",
        type=int,
        default=4,
        help="mip levels per KTX block (with --ktx/--ktxonly)",
    )
    oct_p.add_argument(
        "--downsample-intensity",
        action="store_true",
        help="KTX pass: requantize uint16 payloads to uint8",
    )
    oct_p.add_argument(
        "--downsample-xy",
        action="store_true",
        help="KTX pass: halve X/Y once before the mip chain",
    )
    _spark_flags(oct_p)

    ktx_p = sub.add_parser("ktx", help="TIFF octree store -> KTX block store")
    ktx_p.add_argument("-i", "--inputdir", required=True, help="octree store")
    ktx_p.add_argument("-o", "--output", required=True, help="KTX output")
    ktx_p.add_argument(
        "--block-dims",
        type=lambda s: _triple(s, int),
        default=None,
        help="stored block extent z,y,x (default: read from the store)",
    )
    ktx_p.add_argument(
        "--interleave",
        action="store_true",
        help="one multi-channel KTX per block (GL_RG/RGB texels — the "
        "reference's 2-channel specimen default) instead of one per channel",
    )
    ktx_p.add_argument("--mips", type=int, default=4, help="mip levels per block")
    ktx_p.add_argument(
        "-d",
        "--downsample",
        default="2ndmax",
        # the per-block mip chain is a group aggregate; neighborhood
        # kernels (aa/spline) are octree-build options only
        choices=["2ndmax", "arthur", "area", "mean", "max"],
        help="mip downsample method",
    )
    ktx_p.add_argument(
        "--depth", type=int, default=None, help="convert one octree level only"
    )
    ktx_p.add_argument("--downsample-intensity", action="store_true")
    ktx_p.add_argument("--downsample-xy", action="store_true")
    ktx_p.add_argument(
        "--resume",
        action="store_true",
        help="skip blocks whose .ktx output is already committed "
        "(the reference's per-file exists check, on the work list)",
    )
    ktx_p.add_argument(
        "--delete-source",
        action="store_true",
        help="reclaim converted source blocks after the KTX commit "
        "(the reference's --ktxonly cleanup)",
    )
    ktx_p.add_argument(
        "--lz4",
        action="store_true",
        help="write LZ4-frame side-compressed .ktx.lz4 files "
        "(the reference's LZ4.exe post-pass, done inline)",
    )
    _spark_flags(ktx_p)

    crop_p = sub.add_parser(
        "crop",
        help="export a voxel window of one octree level as a slice directory",
    )
    crop_p.add_argument("-i", "--inputdir", required=True, help="octree store")
    crop_p.add_argument("-o", "--output", required=True, help="slice dir output")
    crop_p.add_argument(
        "--z", type=lambda s: _pair(s), required=True, help="z0,z1 (half-open)"
    )
    crop_p.add_argument("--y", type=lambda s: _pair(s), required=True)
    crop_p.add_argument("--x", type=lambda s: _pair(s), required=True)
    crop_p.add_argument(
        "--depth",
        type=int,
        default=None,
        help="octree level (default: the deepest = full resolution)",
    )
    crop_p.add_argument("--dtype", default="uint16")
    _spark_flags(crop_p)
    return ap


def _pair(s: str) -> tuple[int, int]:
    parts = [int(p) for p in s.split(",")]
    if len(parts) != 2:
        raise argparse.ArgumentTypeError(f"need 2 comma-separated values: {s!r}")
    return (parts[0], parts[1])


def _spark_flags(p: argparse.ArgumentParser) -> None:
    p.add_argument(
        "--master",
        default=None,
        help="Spark master (default: local[*]; on a cluster prefer spark-submit)",
    )
    p.add_argument(
        "--shuffle-partitions",
        type=int,
        default=None,
        help="spark.sql.shuffle.partitions override",
    )


def _session(args):
    import os

    from hortacloud_importer_spark.session import get_spark

    if args.master:
        os.environ["SPARK_GRAFT_CPUS"] = (
            args.master.removeprefix("local[").removesuffix("]")
            if args.master.startswith("local[")
            else "*"
        )
    spark = get_spark("hortacloud-importer-spark-cli")
    if args.shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", args.shuffle_partitions)
    return spark


def _pixel_resolution(path: str) -> tuple[float, float, float] | None:
    """The reference reads a ``pixelResolution`` attribute from the N5
    root to default the voxel size (get_pixel_resolution_n5_zarr,
    tiff2octree.py:694-709); both the bare-list and the
    ``{"dimensions": [...]}`` forms occur in the wild. The root's
    ``attributes.json`` is a dataset's or a group's, as the store
    probe (sources/n5.py::probe_store) finds it."""
    from hortacloud_importer_spark.sources.n5 import probe_store

    found = probe_store(path)
    if found is None or found[0] != "attributes.json":
        return None
    res = found[1].get("pixelResolution")
    if isinstance(res, dict):
        res = res.get("dimensions")
    if isinstance(res, (list, tuple)) and len(res) == 3:
        return tuple(float(v) for v in res)
    return None


def _run_octree(args) -> dict:
    from hortacloud_importer_spark.pipelines import (
        build_octree,
        tiff_octree_to_ktx,
    )
    from hortacloud_importer_spark.sources import listing
    from hortacloud_importer_spark.sources.hierarchy import discover_hierarchy
    from hortacloud_importer_spark.sources.n5 import chunk_store

    spark = _session(args)
    filter_ = FILTER_ALIASES[args.downsample]
    out = {"command": "octree", "output": args.output}
    nlevels = args.level if args.level > 0 else None

    if not args.ktxonly:
        if bool(args.inputdir) == bool(args.inputfile):
            raise SystemExit("exactly one of -i/--inputdir or -f/--inputfile")
        # every input is listed on the driver and each first-pass task
        # reads its own windows by path (sources/listing.py); an input
        # directory is an N5/Zarr store (auto-detected like the
        # reference's, tiff2octree.py:319-328), a c{i}/s{j} hierarchy
        # (level s0, every channel; check_n5_levels/check_n5_channels,
        # tiff2octree.py:711-777) or a slice directory
        if args.inputfile:
            source = listing.stack_volume(args.inputfile, args.channel)
        elif (opened := chunk_store(args.inputdir, missing_ok=True)) is not None:
            source = listing.store_volume([(args.channel, opened)])
        elif discover_hierarchy(args.inputdir):
            source = listing.hierarchy_volume(args.inputdir)
        else:
            source = listing.slice_volume(args.inputdir, args.channels)
        if args.inputdir and args.voxsize == (1.0, 1.0, 1.0):
            res = _pixel_resolution(args.inputdir)
            if res is not None:
                args.voxsize = res
        summary = build_octree(
            spark,
            source,
            args.output,
            nlevels=nlevels,
            filter_=filter_,
            dtype=args.dtype,
            resume=args.resume,
            origin_nm=args.origin,
            voxel_size_um=args.voxsize,
        ).collect()
        out["levels"] = [
            {
                "level": r["level"],
                "n_blocks_written": r["n_blocks_written"],
                "n_voxels": r["n_voxels"],
            }
            for r in summary
        ]

    if args.ktx or args.ktxonly:
        from hortacloud_importer_spark.volume.geometry import read_transform_txt

        store = args.output if not args.ktxonly else (args.inputdir or args.output)
        ktx_out = args.ktxout or f"{store.rstrip('/')}_ktx"
        if read_transform_txt(store) is None:
            raise SystemExit(f"{store} has no transform.txt; build it first")
        # transform.txt records s* = leaf_um * 1000 * 2^(nl-1); block
        # extent isn't in the file, so recover it from ONE block's
        # TIFF header (all blocks share one extent by construction)
        from hortacloud_importer_spark.sources.block_store import (
            store_block_meta,
        )

        block_dims, _ = store_block_meta(store)
        # the KTX pass's per-block mip chain is a group aggregate; the
        # neighborhood kernels don't apply there — the reference's KTX
        # converter defaults to 'arthur' regardless of the octree
        # build's method (ktx_from_rendered_tiff.py:33)
        from hortacloud_importer_spark.volume.downsample import FILTERS

        ktx_filter = filter_ if filter_ in FILTERS else "arthur"
        res = tiff_octree_to_ktx(
            spark,
            store,
            ktx_out,
            block_dims=block_dims,
            n_mips=args.mips,
            filter_=ktx_filter,
            downsample_intensity=args.downsample_intensity,
            downsample_xy=args.downsample_xy,
            resume=args.resume,
            # the reference reclaims the intermediate octree on
            # --ktxonly (tiff2octree.py:1357) — but OUR --ktxonly
            # converts a PRE-EXISTING store, so deleting it implicitly
            # would destroy user input; reclaim is the explicit
            # `ktx --delete-source` instead (MIGRATION.md)
        ).first()
        out["ktx"] = {
            "output": ktx_out,
            "n_files": res["n_files"],
            "n_mips": res["n_mips"],
        }
    return out


def _run_ktx(args) -> dict:
    from hortacloud_importer_spark.pipelines import tiff_octree_to_ktx

    spark = _session(args)
    block_dims = args.block_dims
    if block_dims is None:
        # all blocks in a build_octree store share one extent — read it
        # off one block's TIFF header instead of making the user repeat
        # it (no payload decode)
        from hortacloud_importer_spark.sources.block_store import (
            store_block_meta,
        )

        block_dims, _ = store_block_meta(args.inputdir)
    res = tiff_octree_to_ktx(
        spark,
        args.inputdir,
        args.output,
        block_dims=tuple(block_dims),
        n_mips=args.mips,
        filter_=FILTER_ALIASES[args.downsample],
        depth=args.depth,
        interleave=args.interleave,
        downsample_intensity=args.downsample_intensity,
        downsample_xy=args.downsample_xy,
        delete_source=args.delete_source,
        resume=args.resume,
        lz4=args.lz4,
    ).first()
    return {
        "command": "ktx",
        "output": args.output,
        "n_files": res["n_files"],
        "n_mips": res["n_mips"],
    }


def _run_crop(args) -> dict:
    from hortacloud_importer_spark.pipelines import (
        crop_chunk_store,
        crop_octree,
    )
    from hortacloud_importer_spark.sources.block_store import (
        store_block_meta,
    )
    from hortacloud_importer_spark.sources.n5 import chunk_store

    spark = _session(args)
    window = (tuple(args.z), tuple(args.y), tuple(args.x))
    # chunk-store inputs (N5 / Zarr v2 / Zarr v3) crop directly — the
    # reference's get_cropped_image_n5_zarr (tiff2octree.py:351-383);
    # detected by the same store probe as the octree subcommand's input
    if chunk_store(args.inputdir, missing_ok=True) is not None:
        if args.depth is not None:
            raise SystemExit(
                "--depth applies to octree stores; chunk stores are "
                "single-scale — point -i at the wanted c{ch}/s{depth} "
                "level instead"
            )
        res = crop_chunk_store(
            spark, args.inputdir, args.output, window=window, dtype=args.dtype
        )
    else:
        # block extent from one TIFF header + deepest level from the
        # path listing — no payload decode to learn the store's metadata
        block_dims, max_depth = store_block_meta(args.inputdir)
        res = crop_octree(
            spark,
            args.inputdir,
            args.output,
            window=window,
            depth=max_depth if args.depth is None else args.depth,
            block_dims=block_dims,
            dtype=args.dtype,
        )
    rows = res.collect()
    return {
        "command": "crop",
        "output": args.output,
        "n_slices": len(rows),
        "n_nonzero": sum(r["n_nonzero"] for r in rows),
    }


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.command == "octree":
        result = _run_octree(args)
    elif args.command == "ktx":
        result = _run_ktx(args)
    else:
        result = _run_crop(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
