"""Corpus-scale soak: the K1-K5 / ANN operators at ~100x the bench
corpus.

The per-round bench runs the dedup/similarity/text queries over the
sf0.1 fixtures (5,000 documents / 2,000 embeddings). Their 100 TB
posture so far is ARGUED (bucketed candidates, DF caps, broadcast
small sides); this soak MEASURES it: a synthetic 500,000-document /
500,000-embedding corpus (~100x rows, longer documents — ~0.5 GiB of
text) with a known duplicate structure runs through the exact same
registry query functions, recording wall time, per-stage shuffle
read/write bytes (Spark REST), and peak process-tree RSS.

Claims under test (the scale arguments in VERDICT r5's
LLM-data-pipeline table):
- dedup_exact shuffles 16-byte fingerprints, never payloads —
  shuffle bytes must be a small fraction of corpus bytes;
- the n-gram Jaccard pair space stays bounded by the DF cap
  (no quadratic blowup at 100x);
- MinHash-LSH / SimHash candidates stay banded (shuffle ~ n_docs x
  bands, not pairs);
- the text-analysis composite stays map-only (no shuffle beyond the
  final aggregate);
- ANN probes a bounded candidate set (shuffle << all-pairs).

Duplicate structure (deterministic, id-keyed): ids ending in 9 are
EXACT copies of the decade's id-ending-0 doc; ids ending in 8 are
NEAR duplicates of id-7 (same word stream, ~3% of words replaced) —
so ~10% exact-dup rate and a known near-dup pair per decade of ids.

Usage: python tools/soak_corpus.py [--docs N]
(~3-6 min on 32 cores; the parquet fixture under /tmp is reused —
delete /tmp/spark_graft_soak_corpus to force regeneration).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.soak import RssSampler, _stages  # noqa: E402

WORK = os.environ.get("SOAK_CORPUS_DIR", "/tmp/spark_graft_soak_corpus")
N_DOCS = int(os.environ.get("SOAK_CORPUS_DOCS", "500000"))
N_VECS = N_DOCS
DIM = 64
WORDS_PER_DOC = 120
# --boilerplate FRAC: that fraction of docs (id digits 1..6, so the
# planted dup structure on digits 0/7/8/9 is untouched) get their
# first 20 words replaced by ONE fixed sentence — the adversarial
# common-prefix corpus (cookie banners, newsletter footers) whose
# shingles would pair-bomb an uncapped inverted-index join.
BOILERPLATE = 0.0
# --mode substring: UNIQUE corpus — every doc gets its own word
# stream (no planted exact/near dups), so the only duplicated spans
# are the boilerplate passages. That is substring dedup's documented
# operating point (it runs AFTER doc-level dedup).
UNIQUE = False
_BOILER_WORDS = (
    "subscribe to our newsletter for the latest updates and accept "
    "all cookies to continue reading this article on our site"
).split()

# the queries to soak, in registry order: (name, what the stage
# metrics should show)
QUERIES = [
    ("dedup_exact", "16-byte fingerprint shuffle, never payloads"),
    ("dedup_approx", "banded MinHash/SimHash buckets (oracle mode, uncapped)"),
    # r13: the registered minhash/simhash queries flipped to portable
    # md5-derived hashes (oracle-exact incl. the cap) — these rows now
    # measure that path; the xxhash64 mode remains in the operators
    ("dedup_minhash", "capped MinHash-LSH (portable hashes, cap=1024)"),
    ("dedup_simhash", "capped SimHash bands (portable hashes, cap=4096)"),
    # r14 ask #1: the budget variant bounds the pair OUTPUT volume
    # (the bucket cap only bounds the join's input); its recall vs
    # the base's planted pairs is checked below the phase loop
    ("dedup_simhash_budget",
     "per-doc candidate budget (16): output <= 16*docs by construction"),
    # The substring-dedup family runs with a FULL-AGGREGATE trigger
    # (FULL_AGG below): a .count() trigger would let Catalyst prune
    # the span branch (count of a groupBy = distinct keys, join
    # fanout irrelevant) and record a fictional wall — the round-11
    # lesson (commit b7fe00e). The checksum aggregate touches every
    # output column of every row, so nothing prunes.
    ("dedup_substring", "minimizer seeds, exact verify on candidates"),
    ("dedup_substring_apply", "span rewrite: text shuffles ONCE by necessity"),
    # r14: incremental ingest against the committed fingerprint store —
    # only 16-byte digests move; gen-0 commit + classify + gen-1 append
    ("corpus_ingest_increment",
     "committed fp store: digest-only anti-join, generation append"),
    ("dedup_ngram_jaccard", "DF-capped inverted-index pair join"),
    ("dedup_components", "edges materialized once, then propagation"),
    ("q_corpus_curation", "md5 groupBy + capped shingle join"),
    ("text_tfidf", "split/explode/agg, joins on small aggregates"),
    # r13 ask #5: the round-12 text/packing ops had no soak rows. All
    # five end in prunable aggregates, so they run with the
    # full-checksum trigger (FULL_AGG).
    ("text_ngram_ppx", "bigram LM: digest-keyed model join, no gram text"),
    ("text_ngram_ppx_norm", "normalized-token LM, same digest-keyed plan"),
    ("text_repetition", "intra-doc gram stats: one (doc,digest) agg, no join"),
    ("corpus_sample_mix",
     "stateless seed-keyed sampling: map-side filter, one tiny agg"),
    ("corpus_pack", "two-pass prefix sum; window sees partition totals only"),
    ("corpus_shard", "shard deal over the pack index, one exchange on shard"),
    ("q_dataset_build",
     "full crawl->shards composite: dedup + mix + pack + shard fused"),
    ("sim_topk", "broadcast query, TakeOrdered"),
    ("sim_ann", "bucketed candidates, exact re-score of survivors"),
]


# queries whose final stage is a prunable aggregate: measured with the
# checksum trigger, never .count() (see the QUERIES comment)
FULL_AGG = {
    "corpus_ingest_increment",
    "q_dataset_build",
    "dedup_substring",
    "dedup_substring_apply",
    "text_ngram_ppx",
    "text_ngram_ppx_norm",
    "text_repetition",
    "corpus_pack",
    "corpus_shard",
}


def _checksum_count(df) -> int:
    """Force FULL execution: aggregate a checksum over every output
    column of every row (Catalyst cannot prune anything) and return
    the row count."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("*").alias("n"),
        F.sum(
            F.crc32(
                F.concat_ws(
                    "\x1f", *[F.col(c).cast("string") for c in df.columns]
                )
            )
        ).alias("ck"),
    ).collect()[0]
    return row["n"]


def _gen_corpus(spark) -> float:
    """Write documents.parquet + embeddings.parquet in the fixture
    schema (catalog.table reads `{dir}/{name}.parquet`), generated in
    parallel on executors with per-id deterministic RNG."""
    from pyspark.sql import functions as F

    t0 = time.monotonic()
    os.makedirs(WORK, exist_ok=True)

    def gen_docs(batches):
        import numpy as np
        import pandas as pd

        # Realistic token statistics, not iid repetition: ~1/3 real
        # stopwords (so quality filters behave like on real text) and
        # topic-sliced content vocabulary (100 topics x 3,000-word
        # windows of a 100k vocab) so documents from different topics
        # have distinct token DISTRIBUTIONS — an earlier iid-zipf
        # corpus made every document's distribution near-identical,
        # which drove the uncapped simhash prefix join to 3.7e9
        # genuine-under-the-metric pairs.
        stop = np.array(
            "the a of and to in is for on with as by at from it this "
            "that be are was or an".split(),
            dtype=object,
        )
        # topic count scales with corpus size (~5k docs per topic):
        # a FIXED topic count would grow within-topic pair density
        # quadratically with N and fake a blowup that real corpora
        # (whose topical diversity grows with size) don't have
        n_topics = max(100, N_DOCS // 5000)
        vocab = np.array(
            [f"w{i:06d}" for i in range(n_topics * 1000 + 3000)],
            dtype=object,
        )
        ranks = np.arange(1, 3001, dtype=np.float64)
        topic_probs = (1.0 / ranks) / np.sum(1.0 / ranks)
        langs = np.array(["en", "de", "fr", "es"], dtype=object)
        sources = np.array(["web", "wiki", "code", "news"], dtype=object)

        def words_for(seed: int) -> np.ndarray:
            rng = np.random.default_rng((777, seed))
            topic = seed % n_topics
            window = vocab[topic * 1000 : topic * 1000 + 3000]
            n_stop = WORDS_PER_DOC // 3
            content = rng.choice(
                window, size=WORDS_PER_DOC - n_stop, p=topic_probs
            )
            mixed = np.concatenate(
                [content, rng.choice(stop, size=n_stop)]
            )
            rng.shuffle(mixed)
            return mixed

        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                did = int(row.id)
                last = did % 10
                if UNIQUE:
                    w = words_for(did)
                elif last == 9:
                    # exact duplicate of the decade's id-ending-0 doc
                    # (NOT did-1: doc did-1 ends in 8 and its TEXT is
                    # the mutated stream, so copying words_for(did-1)
                    # would duplicate nothing that exists)
                    w = words_for(did - 9)
                elif last == 8:  # near duplicate of id-7: ~3% mutated
                    w = words_for(did - 7).copy()
                    rng = np.random.default_rng((778, did))
                    k = max(1, WORDS_PER_DOC * 3 // 100)
                    idx = rng.choice(WORDS_PER_DOC, size=k, replace=False)
                    topic = (did - 7) % n_topics
                    w[idx] = rng.choice(
                        vocab[topic * 1000 : topic * 1000 + 3000],
                        size=k,
                        p=topic_probs,
                    )
                else:
                    w = words_for(did)
                if BOILERPLATE and 1 <= last <= int(BOILERPLATE * 10):
                    w = w.copy()
                    w[: len(_BOILER_WORDS)] = _BOILER_WORDS
                text = " ".join(w.tolist())
                out.append(
                    {
                        "doc_id": did,
                        "text": text,
                        "lang": langs[did % 4],
                        "source": sources[(did // 4) % 4],
                        "n_chars": len(text),
                    }
                )
            yield pd.DataFrame(out)

    docs_schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    (
        spark.range(N_DOCS)
        .repartition(64)
        .mapInPandas(gen_docs, docs_schema)
        .write.mode("overwrite")
        .parquet(f"{WORK}/documents.parquet")
    )

    def gen_vecs(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = []
            for vid in ids:
                vid = int(vid)
                # 32 clusters; members = cluster centroid + noise, so
                # ANN recall against brute force is meaningful
                label = vid % 32
                c_rng = np.random.default_rng((555, label))
                centroid = c_rng.standard_normal(DIM)
                rng = np.random.default_rng((556, vid))
                v = centroid + 0.3 * rng.standard_normal(DIM)
                v = (v / np.linalg.norm(v)).astype(np.float32)
                out.append(
                    {"vec_id": vid, "embedding": v.tolist(), "label": label}
                )
            yield pd.DataFrame(out)

    (
        spark.range(N_VECS)
        .repartition(64)
        .mapInPandas(gen_vecs, "vec_id long, embedding array<float>, label int")
        .write.mode("overwrite")
        .parquet(f"{WORK}/embeddings.parquet")
    )
    return time.monotonic() - t0


def main() -> int:
    global N_DOCS, N_VECS, BOILERPLATE, UNIQUE
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--docs", type=int, default=N_DOCS,
        help="corpus size (also SOAK_CORPUS_DOCS); a changed size needs "
        "a fresh fixture dir",
    )
    ap.add_argument(
        "--boilerplate", type=float, default=0.0,
        help="fraction of docs (multiples of 0.1, max 0.6) that share "
        "one fixed 20-word prefix — the adversarial common-prefix "
        "corpus; changes the fixture, so use a fresh SOAK_CORPUS_DIR",
    )
    ap.add_argument(
        "--queries", type=str, default="",
        help="comma-separated subset of the soak queries to run",
    )
    ap.add_argument(
        "--mode", choices=["registry", "substring"], default="registry",
        help="'substring' = the substring finder at its documented "
        "operating point: a UNIQUE corpus (no planted whole-doc dups — "
        "substring dedup runs post doc-level dedup) whose only "
        "duplication is the --boilerplate passage; runs substring_find "
        "directly on the raw documents table and writes a dedicated "
        "SOAK section. Needs its own SOAK_CORPUS_DIR.",
    )
    args = ap.parse_args()
    N_DOCS = N_VECS = args.docs
    BOILERPLATE = args.boilerplate
    UNIQUE = args.mode == "substring"
    queries = QUERIES
    if args.mode == "substring":
        queries = [
            ("substring_find", "minimizer seeds, exact verify on candidates"),
        ]
    elif args.queries:
        wanted = set(args.queries.split(","))
        unknown = wanted - {q for q, _ in QUERIES}
        if unknown:
            raise SystemExit(f"unknown queries: {sorted(unknown)}")
        queries = [(q, c) for q, c in QUERIES if q in wanted]

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from hortacloud_importer_spark.session import spark_builder

    spark = (
        spark_builder("soak_corpus")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4052")
        # A GC pause > the default 120s network timeout expires the
        # in-process executor's heartbeat; local mode cannot replace
        # an executor, so the scheduler endpoint dies and every later
        # stage hangs at (0 + N) forever (observed round 13 during the
        # substring phase at 500k docs). Long timeouts are the correct
        # posture for a single-JVM soak: there is no remote peer whose
        # failure the timeout would detect.
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeatInterval", "60s")
        .getOrCreate()
    )

    from hortacloud_importer_spark.registry import all_queries

    registry = all_queries()

    sampler = RssSampler()
    sampler.start()
    report: dict = {
        "n_docs": N_DOCS,
        "n_vecs": N_VECS,
        "boilerplate": BOILERPLATE,
        "unique": UNIQUE,
        "cpus": spark.sparkContext.defaultParallelism,
        "baseline_rss_gib": round(sampler._total_rss_kb() / 2**20, 2),
    }

    sampler.phase("generate")
    meta_path = f"{WORK}/_soak_meta.json"
    done_marker = f"{WORK}/documents.parquet/_SUCCESS"
    if os.path.exists(done_marker):
        stamped, stamped_bp = -1, -1.0
        if os.path.exists(meta_path):
            meta = json.load(open(meta_path))
            stamped = meta.get("n_docs", -1)
            stamped_bp = meta.get("boilerplate", 0.0)
        stamped_uq = meta.get("unique", False) if os.path.exists(
            meta_path
        ) else False
        if stamped != N_DOCS or stamped_bp != BOILERPLATE or (
            stamped_uq != UNIQUE
        ):
            raise SystemExit(
                f"fixture at {WORK} holds {stamped} docs "
                f"(boilerplate={stamped_bp}) but this run wants "
                f"{N_DOCS} (boilerplate={BOILERPLATE}); use a fresh "
                "SOAK_CORPUS_DIR (reusing it would publish mislabeled "
                "measurements)"
            )
        report["gen_sec"] = 0.0
    else:
        report["gen_sec"] = round(_gen_corpus(spark), 1)
        json.dump(
            {"n_docs": N_DOCS, "boilerplate": BOILERPLATE,
             "unique": UNIQUE},
            open(meta_path, "w"),
        )
    report["corpus_mb"] = round(
        sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(WORK)
            for f in fs
        )
        / 2**20,
        1,
    )

    from hortacloud_importer_spark.catalog import table
    from hortacloud_importer_spark.queries.dedup import substring_find

    # --mode substring: the operator runs on the RAW documents table
    # (no _dup_corpus wrapper — that wrapper exists for the oracle
    # fixture's planted duplication, and substring dedup's documented
    # operating point is post doc-level dedup)
    extra_fns = {
        "substring_find": lambda spark, sf: substring_find(
            table(spark, sf, "documents").select("doc_id", "text")
        ),
    }

    phases = []
    topk_rows: dict = {}
    for name, claim in queries:
        fn = extra_fns[name] if name in extra_fns else registry[name].fn
        sampler.phase(name)
        before = {s["stageId"] for s in _stages(spark)}
        t0 = time.monotonic()
        if name in ("sim_topk", "sim_ann"):
            # tiny top-k outputs: keep the rows for the recall check
            rows = fn(spark, WORK).collect()
            topk_rows[name] = rows
            n_rows = len(rows)
        elif name in FULL_AGG or name in extra_fns:
            n_rows = _checksum_count(fn(spark, WORK))
        else:
            n_rows = fn(spark, WORK).count()
        wall = time.monotonic() - t0
        stages = [s for s in _stages(spark) if s["stageId"] not in before]
        phases.append(
            {
                "query": name,
                "claim": claim,
                "rows": n_rows,
                "wall_sec": round(wall, 1),
                "shuf_write_mb": round(
                    sum(s.get("shuffleWriteBytes", 0) for s in stages) / 2**20,
                    1,
                ),
                "shuf_read_mb": round(
                    sum(s.get("shuffleReadBytes", 0) for s in stages) / 2**20,
                    1,
                ),
                "input_mb": round(
                    sum(s.get("inputBytes", 0) for s in stages) / 2**20, 1
                ),
                "stages": len(stages),
            }
        )
        print(json.dumps(phases[-1]))
        # drop caches a phase left behind (minhash/simhash signature
        # frames etc.): keeps phases isolated and the old-gen heap
        # from ratcheting toward the GC pauses that trip the
        # heartbeat — each phase builds its own caches inside its
        # own measurement window, so this costs later phases nothing
        spark.catalog.clearCache()

    sampler.stop()
    report["phases"] = phases
    report["peak_rss_gib"] = round(sampler.peak / 2**20, 2)
    report["peak_rss_phase"] = sampler.peak_at
    # ANN quality at this scale: recall@k of each approximate method
    # against the exact brute-force top-k (same fixed query vector)
    if "sim_topk" in topk_rows and "sim_ann" in topk_rows:
        exact = {r["vec_id"] for r in topk_rows["sim_topk"]}
        recalls = {}
        for method in ("lsh", "ivf"):
            got = {
                r["vec_id"]
                for r in topk_rows["sim_ann"]
                if r["method"] == method
            }
            recalls[method] = round(len(exact & got) / max(len(exact), 1), 2)
        report["ann_recall_at_k"] = recalls
    # Budget contract (r14 ask #1): the budgeted simhash must keep
    # every PLANTED pair the base capped query finds — true near-dups
    # (small hamming) rank ahead of band noise in the per-doc cut.
    # Computed distributively (left-semi against the planted-pair
    # table) — the base's pair set is far too large to collect.
    by_q0 = {p["query"]: p for p in phases}
    if not UNIQUE and "dedup_simhash_budget" in by_q0:
        planted = (
            spark.range(N_DOCS // 10)
            .selectExpr("id*10 AS doc_a", "id*10+9 AS doc_b")
            .union(
                spark.range(N_DOCS // 10).selectExpr(
                    "id*10+7 AS doc_a", "id*10+8 AS doc_b"
                )
            )
        )
        base_hits = (
            registry["dedup_simhash"]
            .fn(spark, WORK)
            .join(planted, ["doc_a", "doc_b"], "left_semi")
            .count()
        )
        spark.catalog.clearCache()
        budget_hits = (
            registry["dedup_simhash_budget"]
            .fn(spark, WORK)
            .join(planted, ["doc_a", "doc_b"], "left_semi")
            .count()
        )
        spark.catalog.clearCache()
        base_rows = by_q0["dedup_simhash"]["rows"]
        budget_rows = by_q0["dedup_simhash_budget"]["rows"]
        report["simhash_budget"] = {
            "planted_pairs": N_DOCS // 5,
            "base_planted_hits": base_hits,
            "budget_planted_hits": budget_hits,
            "recall_vs_base": round(budget_hits / max(base_hits, 1), 4),
            "base_pairs": base_rows,
            "budget_pairs": budget_rows,
            "pair_volume_ratio": round(
                budget_rows / max(base_rows, 1), 4
            ),
            "pairs_per_planted": round(
                budget_rows / max(N_DOCS // 5, 1), 1
            ),
        }
    if args.queries:
        # subset run: print-only. _write_md splices the WHOLE section
        # for this doc count, so a partial phase table would silently
        # replace the full one in SOAK.md.
        print(json.dumps(report, indent=1)[:2400])
        spark.stop()
        return 0
    _write_md(report)
    print(json.dumps(report, indent=1)[:2400])
    spark.stop()
    return 0


def _write_md(r: dict) -> None:
    n = r["n_docs"]
    bp = r.get("boilerplate", 0.0)
    if r.get("unique"):
        _write_md_substring(r)
        return
    tag = (
        f", ADVERSARIAL {int(bp * 100)}% boilerplate" if bp else ""
    )
    lines = [
        f"# CORPUS SOAK RUN — {n:,} documents "
        f"(~{max(1, n // 5000)}x the bench corpus){tag}",
        "",
        f"Generated by `tools/soak_corpus.py` on local[{r['cpus']}]: "
        f"**{n:,} documents** ({WORDS_PER_DOC} words each, "
        f"~10% exact dups, ~10% near dups) + {r['n_vecs']:,} x {DIM}-d "
        f"embeddings in 32 clusters — {r['corpus_mb']} MiB of parquet "
        "(the bench fixture is 5,000 docs / 2,000 vectors). The exact "
        "registry query functions run unchanged; only `sf_dir` points "
        "at the big corpus. Planted structure at THIS scale: "
        f"{n // 10:,} exact + {n // 10:,} near dups -> jaccard finds "
        f"exactly {n // 5:,} pairs.",
        *(
            [
                f"Adversarial twist: {int(bp * 100)}% of docs "
                f"({int(n * bp):,}) share ONE fixed 20-word prefix "
                "(cookie-banner boilerplate). Every shingle of that "
                "prefix has document frequency ~"
                f"{int(n * bp / 10):,}x the DF cap (64): an uncapped "
                "inverted-index join would emit ~"
                f"{int((n * bp) ** 2 / 2):.0e} candidate pairs from the "
                "boilerplate alone. The capped join must drop those "
                "postings and still find exactly the planted pairs.",
            ]
            if bp
            else []
        ),
        "",
        "| query | claim under test | rows | wall s | input MiB "
        "| shuffle write MiB | shuffle read MiB |",
        "|---|---|---|---|---|---|---|",
    ]
    for p in r["phases"]:
        lines.append(
            f"| {p['query']} | {p['claim']} | {p['rows']:,} | "
            f"{p['wall_sec']} | {p['input_mb']} | {p['shuf_write_mb']} | "
            f"{p['shuf_read_mb']} |"
        )
    by_q = {p["query"]: p for p in r["phases"]}
    if "dedup_minhash" in by_q and not r.get("unique"):
        lines += [
            "",
            "dedup_minhash/dedup_simhash hash md5-derived ids "
            "(what makes them oracle-exact including the bucket-cap "
            "guard); their xxhash64 modes are gone. The md5 ids cost "
            "roughly 2x the xxhash64 mode's wall/shuffle (round-12 "
            "measured the xxhash minhash at ~12s / 323 MiB on this "
            "corpus) — the price of cross-engine replayability.",
        ]
    if "text_ngram_ppx" in by_q:
        lines += [
            "",
            "text_ngram_ppx's doc-grams->counts join is the linear "
            "corpus-side shuffle (~36 B/bigram). The round-13 "
            "pre-aggregation experiment (group to (doc_id, gh, c) "
            "BEFORE the model join) was measured and REJECTED on this "
            "corpus shape: shuffle rose 2,041 -> 3,523 MiB (+73%) with "
            "identical output checksums, because 120-word documents "
            "almost never repeat a bigram — the pre-agg adds a full "
            "(doc_id, gh) exchange and removes no rows. It would only "
            "pay on corpora with heavy intra-doc repetition, which "
            "text_repetition flags cheaply first.",
        ]
    lines += [
        "",
        f"Peak process-tree RSS: **{r['peak_rss_gib']} GiB** (baseline "
        f"{r['baseline_rss_gib']}; peak during `{r['peak_rss_phase']}`"
        " — RSS is cumulative JVM heap growth under a 48g cap, not a "
        "per-query attribution).",
    ]
    if "ann_recall_at_k" in r:
        rc = r["ann_recall_at_k"]
        lines += [
            "",
            f"ANN quality at this scale: recall@10 vs exact brute force "
            f"= **{rc.get('lsh')} (LSH)** / **{rc.get('ivf')} (IVF)** "
            f"on the {r['n_vecs']:,}-vector corpus (same fixed query; "
            "candidates stay bucket-bounded, see the sim_ann shuffle "
            "row).",
        ]
    if "simhash_budget" in r:
        sb = r["simhash_budget"]
        lines += [
            "",
            "SimHash candidate-volume contract (round-14 ask #1): the "
            "per-doc budget (16, ascending hamming) cut the pair "
            f"output from **{sb['base_pairs']:,}** "
            f"({round(sb['base_pairs'] / max(sb['planted_pairs'], 1))}x "
            "planted structure) to "
            f"**{sb['budget_pairs']:,}** "
            f"(**{sb['pairs_per_planted']}x planted**, ratio "
            f"{sb['pair_volume_ratio']}) while keeping "
            f"**{sb['budget_planted_hits']:,} of "
            f"{sb['base_planted_hits']:,}** planted pairs the base "
            f"finds (recall {sb['recall_vs_base']}). The cut costs no "
            "exchange: a doc's pairs live in its own prefix band, so "
            "the budget groupBy reuses the band join's partitioning "
            "(plan-asserted in tests/test_plans.py).",
        ]
    lines += [
        "",
        "## What this soak caught (fixed before these numbers)",
        "",
        "1. **LSH pair bombing**: the first corpus draft sampled tokens "
        "iid-zipf, making every document's token DISTRIBUTION nearly "
        "identical — the uncapped simhash prefix join emitted 3.7e9 "
        "genuine-under-the-metric pairs. Fix: `bucket_cap` on both LSH "
        "joins (operators/minhash.py::_drop_hot_buckets — the LSH "
        "analog of the n-gram DF cap), defaulted on the production "
        "variants; the oracle-mode query keeps classic semantics. The "
        "capped MinHash row above recovers the planted pair structure "
        "(N/5 pairs: half exact, half near dups; jaccard finds them "
        "exactly) with a bounded shuffle.",
        "2. **Edge-DAG recompute in connected components**: the "
        "propagation loop re-executed the whole candidate-generation "
        "DAG every round (~3x the pair join's shuffle at this scale). "
        "Fix: `localCheckpoint` the edge list once "
        "(operators/components.py); `dedup_components` now costs one "
        "jaccard execution plus small per-round exchanges.",
        "",
        "Reproduce: `SPARK_GRAFT_CPUS=32 python tools/soak_corpus.py "
        "[--docs N]` (the parquet fixture under /tmp is reused across "
        "runs and is stamped with its size; a different --docs needs a "
        "fresh SOAK_CORPUS_DIR).",
        "",
    ]
    _splice_md(lines)


def _write_md_substring(r: dict) -> None:
    """Dedicated SOAK section for the substring finder at substring
    dedup's operating point."""
    n = r["n_docs"]
    bp = r.get("boilerplate", 0.0)
    lines = [
        f"# SUBSTRING SEED SOAK — {n:,} UNIQUE documents, "
        f"{int(bp * 100)}% boilerplate passages",
        "",
        f"Generated by `tools/soak_corpus.py --mode substring` on "
        f"local[{r['cpus']}]: **{n:,} unique documents** "
        f"({WORDS_PER_DOC} words each, no whole-doc duplicates — "
        "substring dedup's documented operating point is AFTER "
        f"doc-level dedup), with {int(bp * 100)}% of docs sharing one "
        "fixed 20-word boilerplate prefix (the licenses / cookie "
        "banners / quoted reposts the operator exists to find). "
        "`substring_find` (the operator behind the `dedup_substring` "
        "registry query) runs directly on the raw documents table, "
        "measured with the full-checksum trigger so its wall is not "
        "pruned fiction.",
        "",
        "| operator | rows | wall s | input MiB "
        "| shuffle write MiB | shuffle read MiB |",
        "|---|---|---|---|---|---|",
    ]
    for p in r["phases"]:
        lines.append(
            f"| {p['query']} | {p['rows']:,} | {p['wall_sec']} | "
            f"{p['input_mb']} | {p['shuf_write_mb']} | "
            f"{p['shuf_read_mb']} |"
        )
    lines.append("")
    _splice_md(lines)


def _splice_md(lines: list) -> None:
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SOAK.md"
    )
    # replace ONLY this section's previous run (header carries the
    # doc count / mode); hand-curated analyses and runs at other
    # scales stay untouched
    marker = lines[0]
    doc = open(path).read() if os.path.exists(path) else ""
    start = doc.find("\n" + marker)
    if start >= 0:
        nxt = doc.find("\n# ", start + 1)
        doc = doc[:start] + (doc[nxt:] if nxt >= 0 else "")
    with open(path, "w") as fh:
        fh.write(doc.rstrip("\n") + "\n\n" + "\n".join(lines))


if __name__ == "__main__":
    sys.exit(main())
