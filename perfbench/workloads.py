"""The benchmark workloads. Each one generates its inputs from the
seed (outside any timed region), primes itself once (untimed: first
execution, oracle checks, expected results), then runs timed
operations. An operation's time covers only the calls into the engine;
its output checks run after the clock stops."""

from __future__ import annotations

import ast
import os
import shutil
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np

import gen
import reference
from report import median
from spans import tree_cpu_s

CORES = 4  # every run is local[4]


@dataclass
class Op:
    seconds: float
    cpu_s: float  # CPU time of the whole process tree in those seconds
    items: int
    ok: bool
    detail: str = ""
    layer: dict = field(default_factory=dict)


def _median_of(spans: list[dict], key: str) -> float:
    return median([s[key] for s in spans])


def _span_s(spans: list[dict]) -> float:
    return median([s["end"] - s["start"] for s in spans])


class Workload:
    name = ""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.n_ops = 0

    def out_dir(self, tag: str) -> str:
        d = os.path.join(self.work, "out", tag)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def prepare(self) -> None:
        raise NotImplementedError

    def prime(self, spark, tracer) -> None:
        raise NotImplementedError

    def op(self, spark, tracer) -> Op:
        raise NotImplementedError

    def probes(self, spark, tracer) -> list[str]:
        """Traced run only: direct calls into single layers. Returns
        the problems its output checks found."""
        return []

    def layer_metrics(self, tracer, ops: list[Op], wall: float) -> dict:
        raise NotImplementedError


# ------------------------------------------------------------- octree


class OctreeImport(Workload):
    """Slice directory -> octree of TIFF blocks -> KTX block store."""

    name = "octree_import"
    DIMS = (16, 256, 256)
    NLEVELS = 3
    MIPS = 3
    STREAM_RATE = 2.0  # slices/s

    def prepare(self) -> None:
        block = tuple(d >> (self.NLEVELS - 1) for d in self.DIMS)
        self.block = block
        self.vol = gen.volume(self.seed, self.DIMS, block)
        self.slices = os.path.join(self.work, "slices")
        gen.write_slices(self.slices, self.vol)
        self.expect = reference.octree_expectation(self.vol, self.NLEVELS)

    def _import(self, spark, tracer, tag: str) -> Op:
        from hortacloud_importer_spark.pipelines.ktx import tiff_octree_to_ktx
        from hortacloud_importer_spark.pipelines.octree import build_octree
        from hortacloud_importer_spark.sources.tiff import decode_tiff

        base = self.out_dir(tag)
        octree, ktx = os.path.join(base, "octree"), os.path.join(base, "ktx")
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with tracer.span("pipelines.octree.build"):
            summary = build_octree(
                spark, self.slices, octree, self.NLEVELS, "arthur"
            ).collect()
        with tracer.span("pipelines.ktx.convert"):
            (k,) = tiff_octree_to_ktx(
                spark, octree, ktx, self.block, self.MIPS, downsample_intensity=True
            ).collect()
        seconds, cpu_s = time.perf_counter() - t0, tree_cpu_s() - c0

        got = {r["level"]: r["n_blocks_written"] for r in summary}
        stored = reference.octree_store_levels(octree, self.NLEVELS, decode_tiff)
        n_blocks = sum(e["blocks"] for e in self.expect)
        problems = [
            f"level {e['level']}: summary {got.get(e['level'])} stored "
            f"{s['blocks']}/{s['sum']} expected {e['blocks']}/{e['sum']}"
            for e, s in zip(self.expect, stored)
            if (got.get(e["level"]), s["blocks"], s["sum"])
            != (e["blocks"], e["blocks"], e["sum"])
        ]
        if (k["n_files"], k["n_blocks"], k["n_mips"]) != (n_blocks, n_blocks, self.MIPS):
            problems.append(f"ktx {k.asDict()} expected {n_blocks} blocks")
        layer = {}
        if tracer.enabled:
            layer = {
                "octree_bytes": reference.tree_bytes(octree),
                "ktx_bytes": reference.tree_bytes(ktx),
                "blocks": sum(s["blocks"] for s in stored),
            }
        shutil.rmtree(base, ignore_errors=True)
        return Op(seconds, cpu_s, self.vol.size, not problems, "; ".join(problems), layer)

    def prime(self, spark, tracer) -> None:
        self._import(spark, tracer, "prime")

    def op(self, spark, tracer) -> Op:
        self.n_ops += 1
        return self._import(spark, tracer, f"import-{self.n_ops}")

    def probes(self, spark, tracer) -> list[str]:
        from hortacloud_importer_spark.sources.tiff import decode_tiff
        from hortacloud_importer_spark.volume.downsample import np_halve

        payloads = []
        for name in sorted(os.listdir(self.slices)):
            with open(os.path.join(self.slices, name), "rb") as fh:
                payloads.append(fh.read())
        with tracer.span("sources.decode"):
            for p in payloads:
                decode_tiff(p)
        with tracer.span("sources.tiff_scan"):
            reference.checksum_df(
                spark.read.format("tiff_volume").option("emit", "slices").load(self.slices)
            )
        bz, by, bx = self.block
        dz, dy, dx = self.DIMS
        leaves = [
            self.vol[z : z + bz, y : y + by, x : x + bx]
            for z in range(0, dz, bz)
            for y in range(0, dy, by)
            for x in range(0, dx, bx)
        ]
        with tracer.span("volume.halve"):
            for leaf in leaves:
                np_halve(leaf, "arthur")
        # the first stream of a session pays for planning the stateful
        # operator; a two-slice stream takes that cost off the measured one
        problems = self._stream(spark, tracer, self.vol[:2, :32, :32], [0.0, 0.0])
        due = gen.stream_schedule(self.seed, self.DIMS[0], self.STREAM_RATE)
        return problems + self._stream(spark, tracer, self.vol, due)

    def _stream(self, spark, tracer, vol: np.ndarray, due: list[float]) -> list[str]:
        """An open loop through the streaming layer: one generator
        thread writes ``vol``'s slices into an empty directory at the
        ``due`` times, the ``tiff_volume`` slice stream feeds
        ``streaming_cascade``, and a foreachBatch sink stamps when each
        daughter slice comes out. Every cascade level down to one z
        slice must match the NumPy pyramid. Keeps the stream's layer
        metrics and returns the problems."""
        from pyspark.sql import functions as F

        from hortacloud_importer_spark.streaming.cascade import streaming_cascade

        base = self.out_dir("stream")
        src = os.path.join(base, "slices")
        os.makedirs(src)
        levels = reference.pyramid(vol, vol.shape[0].bit_length())[1:]
        want = {(lv, z) for lv, arr in enumerate(levels, 1) for z in range(arr.shape[0])}
        written, emitted = [], {}

        def produce(t0: float) -> None:
            for z, d in enumerate(due):
                time.sleep(max(0.0, t0 + d - time.time()))
                gen.write_slice(src, z, vol[z])
                written.append(time.time())

        def sink(df, _batch_id) -> None:
            rows = df.collect()
            now = time.time()
            for r in rows:
                emitted[(r["level"], r["z"])] = (now, r["height"], r["width"], int(np.sum(r["voxels"])))

        slices = (
            spark.readStream.format("tiff_volume")
            .option("emit", "slices")
            .load(src)
            .select(
                *(F.lit(0).alias(c) for c in ("zi", "yi", "xi", "channel")),
                "z", "height", "width", "voxels",
            )
        )
        with tracer.span("streaming.cascade"):
            query = (
                streaming_cascade(slices, vol.shape, "arthur")
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(base, "checkpoint"))
                .trigger(processingTime="100 milliseconds")
                .start()
            )
            t0 = time.time()
            producer = threading.Thread(target=produce, args=(t0,))
            producer.start()
            deadline = t0 + due[-1] + 30
            while not want <= emitted.keys() and time.time() < deadline and query.isActive:
                time.sleep(0.05)
            query.stop()
            producer.join()
        problems = [f"stream: {query.exception()}"] if query.exception() else []
        for lv, arr in enumerate(levels, 1):
            got = [v for k, v in emitted.items() if k[0] == lv]
            shape = {(h, w) for _, h, w, _ in got}
            total = sum(s for *_, s in got)
            if (len(got), shape, total) != (arr.shape[0], {arr.shape[1:]}, int(arr.sum())):
                problems.append(
                    f"stream level {lv}: {len(got)} slices {shape} sum {total}, "
                    f"expected {arr.shape[0]} {arr.shape[1:]} sum {int(arr.sum())}"
                )
        batches = [p for p in query.recentProgress if p.numInputRows]
        backlog = 0
        for p in batches:
            done = datetime.fromisoformat(p.timestamp).timestamp() + p.durationMs["triggerExecution"] / 1000
            # the source's offset is a dict, reported as its repr
            consumed = ast.literal_eval(p.sources[0].endOffset)["n"]
            backlog = max(backlog, sum(w <= done for w in written) - consumed)
        self.stream_metrics = {
            "streaming.batch_ms": median([p.durationMs["triggerExecution"] for p in batches]),
            "streaming.state_bytes": max(
                (op.memoryUsedBytes for p in batches for op in p.stateOperators), default=0
            ),
            "streaming.backlog_slices": backlog,
            # a level-1 daughter is due when its last parent is
            "streaming.lag_p50_ms": median(
                [
                    1000 * (emitted[(1, k)][0] - t0 - due[2 * k + 1])
                    for k in range(levels[0].shape[0])
                    if (1, k) in emitted
                ]
            ),
            "streaming.generator_late_ms": max(1000 * (w - t0 - d) for w, d in zip(written, due)),
            "sources.latest_offset_ms": median([p.durationMs.get("latestOffset", 0) for p in batches]),
        }
        shutil.rmtree(base, ignore_errors=True)
        return problems

    def layer_metrics(self, tracer, ops, wall) -> dict:
        build = tracer.named("pipelines.octree.build")[1:]  # drop the prime
        ktx = tracer.named("pipelines.ktx.convert")[1:]
        decode = _span_s(tracer.named("sources.decode"))
        scan = _span_s(tracer.named("sources.tiff_scan"))
        n_grid = sum(e["grid_blocks"] for e in self.expect)
        voxel_bytes = self.vol.size * self.vol.itemsize
        octree_bytes = median([o.layer["octree_bytes"] for o in ops])
        blocks = median([o.layer["blocks"] for o in ops])
        return {
            "sources.decode_s": decode,
            "sources.tiff_scan_s": scan,
            "sources.decode_share": decode / scan if scan else 0.0,
            "volume.halve_s": _span_s(tracer.named("volume.halve")),
            "pipelines.octree.build_s": _span_s(build),
            "pipelines.octree.stages": _median_of(build, "stages"),
            "pipelines.octree.tasks": _median_of(build, "tasks"),
            "pipelines.octree.shuffle_write_bytes": _median_of(build, "shuffle_write_bytes"),
            "pipelines.octree.spill_bytes": _median_of(build, "spill_bytes"),
            "pipelines.octree.exec_cpu_s": _median_of(build, "cpu_ns") / 1e9,
            "pipelines.octree.blocks_written": blocks,
            "pipelines.octree.bytes_written": octree_bytes,
            "pipelines.octree.write_amp": octree_bytes / voxel_bytes,
            "pipelines.octree.skip_ratio": blocks / n_grid,
            "pipelines.ktx.convert_s": _span_s(ktx),
            "pipelines.ktx.shuffle_write_bytes": _median_of(ktx, "shuffle_write_bytes"),
            "pipelines.ktx.bytes_written": median([o.layer["ktx_bytes"] for o in ops]),
            "pipelines.ktx.exec_cpu_s": _median_of(ktx, "cpu_ns") / 1e9,
            "octree_import.cpu_busy_share": _busy(build + ktx, wall),
            **self.stream_metrics,
        }


def _busy(spans: list[dict], wall: float) -> float:
    """Executor run time over the measured window's core-seconds."""
    return sum(s["run_ms"] for s in spans) / 1000 / (wall * CORES)


# ------------------------------------------------------------- corpus


def _duckdb(directory: str, names):
    import duckdb

    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{directory}/{t}.parquet'")
    return con


def _oracle_check(con, spec, df) -> tuple[bool, str, list]:
    """Compare one execution of ``df`` with the registry's DuckDB
    oracle; returns (ok, message, the collected rows)."""
    from types import SimpleNamespace

    from hortacloud_importer_spark.testing.compare import compare_query

    rows = df.collect()
    res = compare_query(
        spec.name, SimpleNamespace(columns=df.columns, collect=lambda: rows), con, spec.oracle
    )
    return res.ok, str(res), rows


class DatasetBuild(Workload):
    """One LLM dataset-build pass: exact + near dedup, the dataset-build
    composite, quality scores, ANN search, then the shard store."""

    name = "dataset_build"
    N_DOCS = 1000
    N_VECS = 2000
    QUERIES = ("dedup_exact", "dedup_minhash", "q_dataset_build", "text_quality", "sim_ann")

    def prepare(self) -> None:
        self.corpus = os.path.join(self.work, "corpus")
        self.planted = gen.corpus(self.seed, self.N_DOCS, self.N_VECS, self.corpus)

    def prime(self, spark, tracer) -> None:
        from hortacloud_importer_spark.pipelines.shard_store import (
            shard_index,
            write_shard_store,
        )
        from hortacloud_importer_spark.registry import all_queries

        specs = all_queries()
        con = _duckdb(self.corpus, ("documents", "embeddings"))
        self.fns = {q: specs[q].fn for q in self.QUERIES}
        # each result is checked against its oracle once, here; its
        # checksum then vouches for every timed execution
        self.expected, self.problems = {}, []
        rows = {}
        for q in self.QUERIES:
            df = self.fns[q](spark, self.corpus)
            ok, msg, rows[q] = _oracle_check(con, specs[q], df)
            if not ok:
                self.problems.append(msg)
            self.expected[q] = reference.checksum_df(df)
        pairs = {(r["doc_a"], r["doc_b"]) for r in rows["dedup_minhash"]}
        planted = set(self.planted["exact"]) | set(self.planted["near"])
        hit = len(pairs & planted)
        self.minhash_precision = hit / len(pairs) if pairs else 0.0
        self.minhash_recall = hit / len(planted)
        cols = ("shard", "n_fragments", "n_seqs", "n_docs", "shard_tokens")
        oracle = con.execute(specs["corpus_shard_store"].oracle)
        names = [d[0] for d in oracle.description]
        self.shards = sorted(
            tuple(int(row[names.index(c)]) for c in cols) for row in oracle.fetchall()
        )
        self.shard_cols = cols
        root = os.path.join(self.out_dir("prime"), "shards")
        acct = write_shard_store(spark, shard_index(spark, self.corpus), root)
        if self._shard_rows(acct) != self.shards:
            self.problems.append("shard store accounting differs from the oracle")
        con.close()

    def _shard_rows(self, rows: list[dict]) -> list[tuple]:
        return sorted(tuple(int(r[c]) for c in self.shard_cols) for r in rows)

    def op(self, spark, tracer) -> Op:
        from hortacloud_importer_spark.pipelines.shard_store import (
            shard_index,
            write_shard_store,
        )

        self.n_ops += 1
        base = self.out_dir(f"pass-{self.n_ops}")
        root = os.path.join(base, "shards")
        got = {}
        c0, t0 = tree_cpu_s(), time.perf_counter()
        for q in self.QUERIES:
            with tracer.span("queries.plan", query=q):
                df = self.fns[q](spark, self.corpus)
            with tracer.span("queries.exec", query=q):
                got[q] = reference.checksum_df(df)
        with tracer.span("pipelines.shard_store.write"):
            rows = write_shard_store(spark, shard_index(spark, self.corpus), root)
        seconds, cpu_s = time.perf_counter() - t0, tree_cpu_s() - c0
        problems = list(self.problems)
        problems += [
            f"{q}: checksum {got[q]} != {self.expected[q]}"
            for q in self.QUERIES
            if got[q] != self.expected[q]
        ]
        if self._shard_rows(rows) != self.shards:
            problems.append("shard store accounting differs from the oracle")
        layer = {"shard_bytes": reference.tree_bytes(root)} if tracer.enabled else {}
        shutil.rmtree(base, ignore_errors=True)
        return Op(seconds, cpu_s, self.N_DOCS, not problems, "; ".join(problems), layer)

    def probes(self, spark, tracer) -> list[str]:
        from pyspark.sql import functions as F

        from hortacloud_importer_spark.catalog import table
        from hortacloud_importer_spark.operators.minhash import minhash_signatures

        words = F.split("text", " ")
        shingles = (
            spark.read.parquet(f"{self.corpus}/documents.parquet")
            .select(
                "doc_id",
                F.explode(
                    F.arrays_zip(words, F.slice(words, 2, 100000), F.slice(words, 3, 100000))
                ).alias("t"),
            )
            .filter(F.col("t")["2"].isNotNull())
            .select("doc_id", F.concat_ws(" ", "t.0", "t.1", "t.2").alias("shingle"))
        )
        with tracer.span("operators.minhash.signatures"):
            reference.checksum_df(minhash_signatures(shingles, n_hashes=32, portable=True))
        # a path spelling the catalog has not cached: a cold table load
        cold = os.path.join(self.corpus, ".")
        for name in ("documents", "embeddings"):
            with tracer.span("catalog.table"):
                table(spark, cold, name).schema
        return []

    def layer_metrics(self, tracer, ops, wall) -> dict:
        plan, exe = tracer.named("queries.plan"), tracer.named("queries.exec")
        runs = [
            {
                "query": p["query"],
                "seconds": p["end"] - p["start"] + e["end"] - e["start"],
                **{k: p[k] + e[k] for k in ("jobs", "stages", "shuffle_write_bytes", "run_ms")},
            }
            for p, e in zip(plan, exe)
        ]
        q = {name: [r for r in runs if r["query"] == name] for name in self.QUERIES}
        shard = tracer.named("pipelines.shard_store.write")
        return {
            "operators.minhash.signatures_s": _span_s(tracer.named("operators.minhash.signatures")),
            "operators.minhash.band_shuffle_bytes": _median_of(q["dedup_minhash"], "shuffle_write_bytes"),
            "operators.minhash.candidate_precision": self.minhash_precision,
            "operators.minhash.recall": self.minhash_recall,
            "queries.dedup_exact_s": _median_of(q["dedup_exact"], "seconds"),
            "queries.dedup_exact.shuffle_bytes_per_doc": _median_of(q["dedup_exact"], "shuffle_write_bytes") / self.N_DOCS,
            "queries.dataset_build_s": _median_of(q["q_dataset_build"], "seconds"),
            "queries.text_quality_s": _median_of(q["text_quality"], "seconds"),
            "queries.plan_ms": 1000 * _span_s(plan),
            "queries.exec_ms": 1000 * _span_s(exe),
            "queries.jobs_per_query": _median_of(runs, "jobs"),
            "queries.stages_per_query": _median_of(runs, "stages"),
            "queries.shuffle_bytes_per_query": _median_of(runs, "shuffle_write_bytes"),
            "catalog.table_ms": 1000 * _span_s(tracer.named("catalog.table")),
            "operators.ann.search_s": _median_of(q["sim_ann"], "seconds"),
            "operators.ann.shuffle_bytes": _median_of(q["sim_ann"], "shuffle_write_bytes"),
            "pipelines.shard_store.write_s": _span_s(shard),
            "pipelines.shard_store.bytes_written": median([o.layer["shard_bytes"] for o in ops]),
            "dataset_build.cpu_busy_share": _busy(runs + shard, wall),
        }


WORKLOADS = {w.name: w for w in (OctreeImport, DatasetBuild)}
