"""Hierarchical multi-channel / multi-scale source discovery (§2.A3).

The reference probes N5/Zarr group layouts — ``{root}/c{i}/s{j}``
(channel i, scale j) vs flat ``{root}/s{j}`` — by listing subgroups
(tiff2octree.py:711-777 ``check_n5_channels``/``check_n5_levels``)
and builds one lazy array per (channel, level). The Spark analog
lists the store through the Hadoop FileSystem API (so the same code
walks local disk, HDFS, or s3a://), then assembles one DataFrame per
level as a ``unionByName`` of per-channel reads tagged with their
channel — the lazy-scan equivalent of the reference's virtual dask
arrays (nothing is read until an action).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CHANNEL_RE = re.compile(r"^c(\d+)$")
_SCALE_RE = re.compile(r"^s(\d+)$")


def _list_dirs(spark: SparkSession, root: str) -> list[str]:
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    return [
        s.getPath().getName()
        for s in fs.listStatus(path)
        if s.isDirectory()
    ]


def discover_hierarchy(spark: SparkSession, root: str) -> dict[int, list[int]]:
    """Probe the layout: {channel: [scale, ...]}. A flat ``s{j}``
    layout (no channel groups) reports as channel 0, matching the
    reference's fallback (tiff2octree.py:758-777)."""
    channels: dict[int, list[int]] = {}
    names = _list_dirs(spark, root)
    chan_dirs = {int(m.group(1)): n for n in names if (m := _CHANNEL_RE.match(n))}
    if chan_dirs:
        for ch, dirname in sorted(chan_dirs.items()):
            scales = [
                int(m.group(1))
                for n in _list_dirs(spark, f"{root}/{dirname}")
                if (m := _SCALE_RE.match(n))
            ]
            channels[ch] = sorted(scales)
        return channels
    scales = [int(m.group(1)) for n in names if (m := _SCALE_RE.match(n))]
    if scales:
        channels[0] = sorted(scales)
    return channels


def _level_groups(
    spark: SparkSession, root: str, scale: int
) -> list[tuple[int, str]]:
    """(channel, group path) of every channel that has scale ``scale``."""
    layout = discover_hierarchy(spark, root)
    if not layout:
        raise FileNotFoundError(f"no c*/s* hierarchy under {root}")
    has_channel_dirs = bool(
        [n for n in _list_dirs(spark, root) if _CHANNEL_RE.match(n)]
    )
    groups = [
        (ch, f"{root}/c{ch}/s{scale}" if has_channel_dirs else f"{root}/s{scale}")
        for ch, scales in layout.items()
        if scale in scales
    ]
    if not groups:
        raise FileNotFoundError(f"scale s{scale} absent under {root}")
    return groups


def _union(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_level(spark: SparkSession, root: str, scale: int) -> DataFrame:
    """One DataFrame for a scale level: every channel's data unioned
    with its channel id (C1's n-way channel zip happens later as an
    equi-join or stays long-form — both plans keep channels
    co-partitioned by coordinate)."""
    return _union(
        [
            spark.read.parquet(base).withColumn("channel", F.lit(ch))
            for ch, base in _level_groups(spark, root, scale)
        ]
    )


def read_level_chunks(spark: SparkSession, root: str, scale: int) -> DataFrame:
    """The chunk-store form of :func:`read_level`: each ``c{i}/s{j}``
    group is an N5 dataset or Zarr array (the reference's actual
    layout, tiff2octree.py:711-777 + 779-823), opened on the driver
    (sources/n5.py::chunk_store) and read through its
    ``n5_volume``/``zarr_volume`` DataSource — the full
    ``n5_zarr_to_dask_array`` front door, Spark-first."""
    from hortacloud_importer_spark.sources.datasource import (
        register_volume_sources,
    )
    from hortacloud_importer_spark.sources.n5 import chunk_store

    register_volume_sources(spark)
    return _union(
        [
            spark.read.format(chunk_store(base).format)
            .load(base)
            .withColumn("channel", F.lit(ch))
            for ch, base in _level_groups(spark, root, scale)
        ]
    )
