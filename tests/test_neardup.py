"""Validation the rows-only near-dup/ANN operators promise in their
docstrings: MinHash/SimHash find planted near-duplicates and estimate
similarity accurately; LSH-ANN candidates carry exact cosine scores;
the MinHash kernels give the same rows whatever the Arrow batch size."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hortacloud_importer_spark.operators.ann import lsh_topk
from hortacloud_importer_spark.operators.minhash import (
    minhash_pairs,
    minhash_signatures,
    simhash_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep green forest to find some tasty food for its cubs "
    "while the moon rises slowly over the quiet hills in the east"
)


@pytest.fixture(scope="module")
def corpus(spark):
    words = BASE.split()
    near = words.copy()
    near[5] = "leaps"  # one-word edit -> high jaccard
    far = ["totally"] + ["different" + str(i) for i in range(30)]
    docs = [
        (0, " ".join(words)),
        (1, " ".join(words)),  # exact dup of 0
        (2, " ".join(near)),  # near dup of 0
        (3, " ".join(far)),  # unrelated
        (4, " ".join(reversed(words))),  # same vocab, different shingles
    ]
    return spark.createDataFrame(docs, "doc_id int, text string")


def _shingles(docs):
    words = F.split("text", " ")
    idx = F.sequence(F.lit(0), F.size(words) - 3)
    mk = lambda i: F.concat_ws(  # noqa: E731
        " ",
        F.element_at(words, i + 1),
        F.element_at(words, i + 2),
        F.element_at(words, i + 3),
    )
    return docs.select("doc_id", F.explode(F.transform(idx, mk)).alias("shingle"))


def _exact_jaccard(docs):
    sh = _shingles(docs).distinct()
    rows = sh.collect()
    sets: dict[int, set] = {}
    for r in rows:
        sets.setdefault(r["doc_id"], set()).add(r["shingle"])
    out = {}
    ids = sorted(sets)
    for i in ids:
        for j in ids:
            if i < j:
                inter = len(sets[i] & sets[j])
                out[(i, j)] = inter / (len(sets[i]) + len(sets[j]) - inter)
    return out


def test_minhash_finds_planted_dups(spark, corpus):
    exact = _exact_jaccard(corpus)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_pairs(corpus, n_hashes=32, bands=8).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs  # near dup found
    # estimate within 0.25 of exact for found high-sim pairs
    for key, est in pairs.items():
        if exact[key] >= 0.5:
            assert abs(est - exact[key]) <= 0.25, (key, est, exact[key])
    # unrelated doc 3 shares no shingle with 0 -> must not pair
    assert (0, 3) not in pairs


def test_minhash_signature_shape(spark, corpus):
    sig = minhash_signatures(_shingles(corpus), n_hashes=32).collect()
    assert len(sig) == 5
    assert all(len(r["sig"]) == 32 for r in sig)
    # identical docs -> identical signatures
    by_id = {r["doc_id"]: r["sig"] for r in sig}
    assert by_id[0] == by_id[1]
    assert by_id[0] != by_id[3]


def test_simhash_finds_planted_dups(spark, corpus):
    tokens = corpus.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(tokens, max_hamming=16).collect()
    }
    assert pairs.get((0, 1)) == 0  # exact dup -> identical simhash
    # doc 4 is a token-level permutation: simhash is order-insensitive
    assert pairs.get((0, 4)) == 0
    assert (0, 2) in pairs and pairs[(0, 2)] <= 16


def test_ivf_ann_candidates_score_exact(spark, sf_dir):
    """IVF candidates carry exact cosine; top-1 within probed cells
    must equal the global top-1 when its cell is probed."""
    from hortacloud_importer_spark.operators.ann import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = ivf_topk(emb, query_vec_id=0, k=10, n_probe_cells=10).collect()
    assert len(got) == 10
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    q = vecs[0]
    for r in got:
        v = vecs[r["vec_id"]]
        want = round(float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), 6)
        assert r["score"] == pytest.approx(want, abs=2e-6)
    # probing ALL 10 cells makes IVF exhaustive -> equals brute force
    brute = sorted(
        (
            (round(float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), 6), vid)
            for vid, v in vecs.items()
            if vid != 0
        ),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    assert [(r["score"], r["vec_id"]) for r in got] == brute


def test_lsh_ann_candidates_score_exact(spark, sf_dir):
    """Every ANN candidate's cosine must equal the brute-force value."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = lsh_topk(emb, query_vec_id=0, k=10).collect()
    assert len(got) >= 1  # probe radius must yield candidates
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    q = vecs[0]
    for r in got:
        v = vecs[r["vec_id"]]
        want = round(float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), 6)
        assert r["score"] == pytest.approx(want, abs=2e-6)


def test_df_cap_bounds_pairs(spark):
    """One boilerplate shingle planted in 50% of docs must not blow up
    the candidate-pair count: with the DF cap it contributes ZERO
    pairs; without the cap it alone contributes O(m^2) pairs."""
    from hortacloud_importer_spark.queries.dedup import jaccard_pairs

    n_docs = 40
    rows = []
    for d in range(n_docs):
        # unique content per doc + the same boilerplate phrase in every
        # even doc (df = 20 > cap)
        text = " ".join(f"w{d}_{i}" for i in range(12))
        if d % 2 == 0:
            text += " all rights reserved worldwide"
        rows.append((d, text))
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    sh = _shingles(docs)

    uncapped = jaccard_pairs(sh, df_cap=None, threshold=0.0)
    capped = jaccard_pairs(sh, df_cap=8, threshold=0.0)

    # the boilerplate shingles connect all 20 even docs pairwise
    assert uncapped.count() >= (20 * 19) // 2
    # capped: no shingle is shared below the cap -> no candidate pairs
    assert capped.count() == 0

    # and the cap must NOT lose real near-duplicates: plant one
    dup = docs.union(
        spark.createDataFrame(
            [(1000, " ".join(f"w7_{i}" for i in range(12)))],
            "doc_id int, text string",
        )
    )
    found = jaccard_pairs(_shingles(dup), df_cap=8, threshold=0.5)
    got = {(r.doc_a, r.doc_b) for r in found.collect()}
    assert (7, 1000) in got


def test_connected_components_shapes(spark):
    from hortacloud_importer_spark.operators.components import (
        connected_components,
        dedup_keep_list,
    )

    # chain 1-2-3-4 + separate pair (10, 11) + star 20-(21,22,23)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22), (20, 23)],
        "doc_a long, doc_b long",
    )
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
    }
    keep = {r["node"]: r["keep"] for r in dedup_keep_list(pairs).collect()}
    assert keep == {
        1: True, 2: False, 3: False, 4: False,
        10: True, 11: False,
        20: True, 21: False, 22: False, 23: False,
    }


def test_connected_components_long_chain_converges(spark):
    from hortacloud_importer_spark.operators.components import connected_components

    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    comp = connected_components(pairs, max_iterations=n + 2).collect()
    assert {r["component"] for r in comp} == {0}
    assert len(comp) == n + 1


def _identical_texts(spark):
    text = " ".join(f"s{i}" for i in range(12))
    return spark.createDataFrame(
        [(d, text) for d in range(12)], "doc_id long, text string"
    )


def test_lsh_bucket_cap_drops_nondiscriminative_buckets(spark):
    """SOAK finding: an adversarially repetitive corpus pair-bombs the
    uncapped LSH joins (3.7e9 candidates at 500k docs). bucket_cap
    anti-joins away buckets holding more than cap docs — identical
    small-corpus results, bounded worst case."""
    from hortacloud_importer_spark.operators.minhash import (
        minhash_pairs,
        simhash_pairs,
    )
    from pyspark.sql import functions as F

    # 12 identical texts -> every minhash band bucket holds all 12 docs
    docs = _identical_texts(spark)
    uncapped = minhash_pairs(docs, n_hashes=32, bands=8).count()
    assert uncapped == 12 * 11 // 2
    assert minhash_pairs(docs, n_hashes=32, bands=8, bucket_cap=8).count() == 0
    # cap above the bucket size changes nothing
    assert (
        minhash_pairs(docs, n_hashes=32, bands=8, bucket_cap=64).count()
        == uncapped
    )

    tokens = spark.createDataFrame(
        [(d, f"t{i}") for d in range(12) for i in range(20)],
        "doc_id long, token string",
    )
    un = simhash_pairs(tokens, max_hamming=64).count()
    assert un == 12 * 11 // 2
    assert simhash_pairs(tokens, max_hamming=64, bucket_cap=8).count() == 0


def test_components_edges_materialized_once(spark):
    """SOAK finding: the propagation loop re-executed the upstream
    candidate DAG every round. The edge list must be a checkpointed
    scan, not a recomputed join tree."""
    from hortacloud_importer_spark.operators.components import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_capped_portable_minhash_matches_duckdb_when_cap_fires(spark):
    """The registered dedup_minhash runs the production bucket cap
    with a DuckDB oracle — but at fixture scale no
    bucket exceeds 1024, so the cap branch of the oracle is never
    exercised there. Replay the SAME SQL here with cap=3 on a corpus
    where four identical docs blow past it: both engines must drop the
    hot buckets (killing the 4-clique's pairs) and keep the surviving
    near-dup pair, bit-for-bit."""
    import duckdb

    from hortacloud_importer_spark.queries.dedup import (
        _DEDUP_MINHASH_SQL,
        _minhash_perm_values,
    )

    words = BASE.split()
    near = words.copy()
    near[5] = "leaps"
    docs = [(i, " ".join(words)) for i in range(4)]  # hot 4-clique
    docs += [(10, " ".join(near)), (11, " ".join(near))]  # survivors
    df = spark.createDataFrame(docs, "doc_id int, text string")

    got = sorted(
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in minhash_pairs(df, n_hashes=32, bands=8, bucket_cap=3).collect()
    )

    con = duckdb.connect()
    con.register("docs_src", __import__("pandas").DataFrame(
        docs, columns=["doc_id", "text"]
    ))
    con.execute("CREATE VIEW documents AS SELECT * FROM docs_src")
    sql = _DEDUP_MINHASH_SQL.format(perms=_minhash_perm_values(), cap=3)
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())

    assert got == want
    # the cap actually fired: the identical 4-clique (6 pairs, every
    # band shared by all 4 docs > cap) is gone, the near-dup pair stays
    pairs = {(a, b) for a, b, _ in got}
    assert (10, 11) in pairs
    assert not any(a < 4 and b < 4 for a, b in pairs)


def test_simhash_budget_matches_duckdb_when_budget_fires(spark):
    """The registered dedup_simhash_budget runs the per-doc candidate
    budget — but at fixture scale no doc has more than 16 candidates,
    so the cut never fires there. Replay the SAME parameterized SQL
    here with budget=2 on a corpus where one band holds a 6-clique:
    each doc_a must keep exactly its 2 best (hamming, doc_b)
    candidates, bit-for-bit in both engines, and the planted nearest
    neighbor must survive the cut."""
    import duckdb
    import pandas as pd

    from hortacloud_importer_spark.queries.dedup import (
        _simhash_budget_sql,
    )

    words = BASE.split()
    near = words.copy()
    near[5] = "leaps"
    # 6 identical docs -> one band, 15 pairs uncapped; doc 0 alone has
    # 5 candidates at hamming 0, so budget=2 must cut 3 of them
    docs = [(i, " ".join(words)) for i in range(6)]
    docs += [(10, " ".join(near))]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    tokens = df.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )

    budgeted = simhash_pairs(
        tokens, max_hamming=12, per_doc_budget=2
    )
    got = sorted(
        (r.doc_a, r.doc_b, r.hamming) for r in budgeted.collect()
    )

    con = duckdb.connect()
    con.register(
        "docs_src", pd.DataFrame(docs, columns=["doc_id", "text"])
    )
    con.execute("CREATE VIEW documents AS SELECT * FROM docs_src")
    want = sorted(
        tuple(r) for r in con.execute(_simhash_budget_sql(2)).fetchall()
    )
    assert got == want

    # the budget actually fired: every doc_a emits at most 2 pairs,
    # and the deterministic order kept (0,1) and (0,2) for doc 0
    from collections import Counter

    per_doc = Counter(a for a, _, _ in got)
    assert max(per_doc.values()) <= 2
    assert per_doc[0] == 2
    assert {(a, b) for a, b, _ in got if a == 0} == {(0, 1), (0, 2)}


def _pairs(df):
    return sorted((r.doc_a, r.doc_b, r.est_jaccard) for r in df.collect())


def test_minhash_rows_do_not_depend_on_arrow_batch_size(spark, sf_dir):
    """The MinHash kernels stream their input: the signature adapter
    carries a document's run, and the pair kernel its open bucket,
    across Arrow batch boundaries. Two-row batches must give the same
    rows as the default, on the registry query and on a bucket over the
    cap that spans six batches."""
    import pandas as pd

    from hortacloud_importer_spark.queries.dedup import _MINHASH_BUCKET_CAP
    from hortacloud_importer_spark.registry import all_queries

    small = spark.newSession()
    small.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    sizes = small.range(10).mapInPandas(
        lambda it: (pd.DataFrame({"n": [len(b)]}) for b in it), "n long"
    )
    assert max(r.n for r in sizes.collect()) == 2

    want = _pairs(all_queries()["dedup_minhash"].fn(spark, sf_dir))
    docs = small.read.parquet(f"{sf_dir}/documents.parquet")
    got = _pairs(minhash_pairs(docs, bucket_cap=_MINHASH_BUCKET_CAP))
    assert want and got == want

    same = _identical_texts(small)
    assert minhash_pairs(same).count() == 12 * 11 // 2
    assert minhash_pairs(same, bucket_cap=8).count() == 0
    assert minhash_pairs(same, bucket_cap=12).count() == 12 * 11 // 2

    def sigs(session):
        d = session.createDataFrame(
            [(i, " ".join(BASE.split()[i:])) for i in range(6)],
            "doc_id long, text string",
        )
        return sorted(
            (r.doc_id, tuple(r.sig))
            for r in minhash_signatures(_shingles(d), portable=True).collect()
        )

    assert sigs(small) == sigs(spark)


def _split(n, rng, max_batch):
    cuts = sorted(rng.choice(np.arange(1, n), size=min(n - 1, n // max_batch + 3), replace=False))
    return np.split(np.arange(n), cuts)


def test_bucket_pair_kernel_matches_brute_force_on_any_batching():
    """The pair kernel over one sorted partition, cut into random
    batches: every pair of a bucket of at most ``cap`` documents, none
    from a bigger one, wherever the batch boundaries fall."""
    import pandas as pd

    from hortacloud_importer_spark.operators.minhash import _bucket_pairs

    rng = np.random.default_rng(7)
    for cap in (None, 1, 3, 5):
        band = np.sort(rng.integers(0, 3, 200))
        k0 = rng.integers(0, 4, 200)
        rows = pd.DataFrame({"band": band, "k0": k0, "doc_id": rng.permutation(1000)[:200]})
        rows = rows.sort_values(["band", "k0", "doc_id"], ignore_index=True)
        want = set()
        for _, g in rows.groupby(["band", "k0"]):
            ids = sorted(g["doc_id"])
            if cap is None or len(ids) <= cap:
                want |= {(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]}
        for trial in range(5):
            batches = [rows.iloc[ix] for ix in _split(len(rows), rng, 1 + trial * 7)]
            out = list(_bucket_pairs(["band", "k0"], cap)(iter(batches)))
            got = [tuple(p) for o in out for p in o[["doc_a", "doc_b"]].to_numpy()]
            assert len(got) == len(set(got)) and set(got) == want, (cap, trial)


def test_id_signature_kernel_carries_runs_across_batches():
    """The shingle-row adapter's kernel: one signature per document,
    equal to the direct min-reduce, however its run is cut."""
    import pandas as pd

    from hortacloud_importer_spark.operators.minhash import (
        _id_signatures,
        _min_reduce,
        _perm_arrays,
    )

    rng = np.random.default_rng(3)
    ids = np.sort(rng.integers(0, 40, 300))
    rows = pd.DataFrame({"doc_id": ids, "x": rng.integers(0, 1 << 28, 300)})
    a, b = _perm_arrays(32)
    starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
    want = _min_reduce(rows["x"].to_numpy(), starts, a, b)
    for max_batch in (1, 2, 5, 50, 400):
        batches = [rows.iloc[ix] for ix in _split(len(rows), rng, max_batch)]
        got = pd.concat(list(_id_signatures("doc_id", 32)(iter(batches))))
        assert got["doc_id"].tolist() == ids[starts].tolist()
        assert (got.drop(columns="doc_id").to_numpy() == want).all()


def _fixture_sf001(sf_dir):
    return sf_dir.replace("sf0.001", "sf0.01")


def test_ann_fold_is_bit_identical_to_the_spark_fold(spark, sf_dir):
    """The kernel's plane dots, query dot and squared norm equal, bit
    for bit, the higher-order-function folds they replace (written out
    here as the reference), and the driver's query signature, query
    norm and probed cells equal the ones Spark derives from them."""
    from hortacloud_importer_spark.operators.ann import (
        ann_fold,
        ann_query,
        md5_planes,
    )

    emb = spark.read.parquet(f"{_fixture_sf001(sf_dir)}/embeddings.parquet")
    q = ann_query(emb, 0)
    planes = md5_planes(16, len(q.vector))

    def fold(prods: str) -> str:
        return f"aggregate({prods}, 0.0D, (acc, v) -> acc + v)"

    ref = emb.crossJoin(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    ).select(
        "vec_id",
        *[
            F.expr(
                fold(
                    "zip_with(array({}), embedding, (w, x) -> CAST(x AS DOUBLE) * w)".format(
                        ", ".join(f"{w!r}D" for w in planes[j])
                    )
                )
            ).alias(f"r{j}")
            for j in range(16)
        ],
        F.expr(
            fold("zip_with(embedding, qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))")
        ).alias("rq"),
        F.expr(
            fold(
                "zip_with(embedding, embedding,"
                " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))"
            )
        ).alias("rn"),
    )
    rows = ann_fold(emb, q.vector).join(ref, "vec_id").collect()
    assert len(rows) == emb.count()
    for r in rows:
        for j in range(16):
            assert r[f"p{j}"].hex() == r[f"r{j}"].hex(), (r.vec_id, j)
        assert r.qdot.hex() == r.rq.hex() and r.norm2.hex() == r.rn.hex(), r.vec_id

    # the driver's side: the query's signature and norm, from Spark's round
    sig = " | ".join(
        f"shiftleft(CASE WHEN round(r{j}, 6) >= 0 THEN 1L ELSE 0L END, {j})"
        for j in range(16)
    )
    qrow = ref.filter(F.col("vec_id") == 0).select(
        F.expr(sig).alias("sig"), F.sqrt("rn").alias("qnorm")
    ).first()
    assert qrow.sig == q.signature and qrow.qnorm.hex() == q.norm.hex()
    # the probed cells: Spark's centroid averages ranked by the
    # 6-dp-rounded cosine, as the pre-kernel plan computed them
    cent = emb.select("label", F.posexplode("embedding").alias("pos", "v")).groupBy(
        "label", "pos"
    ).agg(F.avg("v").alias("cv"))
    cent = cent.groupBy("label").agg(
        F.expr("transform(sort_array(collect_list(struct(pos, cv))), s -> s.cv)").alias("c")
    )
    dot = lambda a, b: F.expr(  # noqa: E731
        fold(f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))")
    )
    probe = (
        cent.crossJoin(
            emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
        )
        .select(
            "label",
            F.round(dot("c", "qv") / (F.sqrt(dot("c", "c")) * F.sqrt(dot("qv", "qv"))), 6)
            .alias("csim"),
        )
        .orderBy(F.col("csim").desc(), "label")
        .limit(3)
    )
    assert [r.label for r in probe.collect()] == q.probe


def test_spark_round_matches_catalyst_round_on_half_way_values(spark):
    """The driver ranks cells and signs the query with ``spark_round``:
    it must round as Spark's ``round(x, 6)`` does — HALF_UP on the
    decimal form — where a binary HALF_EVEN or float rounding differs."""
    from hortacloud_importer_spark.operators.ann import spark_round

    rng = np.random.default_rng(11)
    half = [(2 * k + 1) * 5e-7 for k in range(-40, 40)]
    half += [0.1234565, -0.1234565, 1.0000005, 0.9999995, 123.4567885, 2.5e-7]
    vals = half + [0.0, -0.0, 1 / 3, -2 / 3, 1e-7, -1e-7]
    vals += [round(v, 7) for v in rng.uniform(-1, 1, 500)]
    vals += list(rng.uniform(-1, 1, 500)) + list(rng.normal(0, 1e-6, 200))
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    for r in df.select("x", F.round("x", 6).alias("r")).collect():
        assert spark_round(r.x).hex() == r.r.hex(), r.x
