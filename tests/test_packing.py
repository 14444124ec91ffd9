"""Sequence packing (operators/packing.py) against a per-token NumPy
reference: every token of the packed stream is owned by one document
and one sequence, and a fragment is one (sequence, document) run of
them. The kernel path is checked without Spark over hand-made range
partitions (empty ones included); `pack_fragments` and
`packed_sequences` are checked through Spark on the edge cases."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hortacloud_importer_spark.operators.packing import (
    FRAGMENT_COLS,
    _fragment_kernel,
    _partition_totals,
    fold_offsets,
    pack_fragments,
    packed_sequences,
    token_counts,
)

S = 512


def reference(doc_ids, ns, seq_len=S) -> set[tuple]:
    """Fragments of the docs laid end to end in doc_id order, found one
    token at a time: a fragment is a run of tokens with the same
    (sequence, owner)."""
    order = np.argsort(doc_ids)
    n = np.asarray(ns, np.int64)[order]
    owner = np.repeat(np.asarray(doc_ids, np.int64)[order], n)
    pos = np.arange(len(owner))
    doc_pos = pos - np.repeat(np.cumsum(n) - n, n)
    seq = pos // seq_len
    starts = np.flatnonzero(
        np.r_[True, (seq[1:] != seq[:-1]) | (owner[1:] != owner[:-1])]
    )[: len(pos)]
    lengths = np.diff(np.r_[starts, len(pos)])
    return {
        (int(seq[i]), int(owner[i]), int(pos[i] % seq_len), int(doc_pos[i]), int(k))
        for i, k in zip(starts, lengths)
    }


def check_geometry(rows: set[tuple], ns: dict[int, int], seq_len=S) -> None:
    """Per sequence the fragments tile [0, seq_len) (the last one
    [0, T - seq_len*s)) and sum to the closed form; per document they
    tile [0, n)."""
    total = sum(ns.values())
    by_seq: dict[int, list] = {}
    by_doc: dict[int, list] = {}
    for seq, doc, seq_off, doc_off, n_tok in rows:
        by_seq.setdefault(seq, []).append((seq_off, n_tok))
        by_doc.setdefault(doc, []).append((doc_off, n_tok))
    assert sorted(by_seq) == list(range(-(-total // seq_len)))
    for seq, frags in by_seq.items():
        pos = 0
        for off, n in sorted(frags):
            assert off == pos and n >= 1, (seq, off, pos)
            pos += n
        assert pos == min(seq_len, total - seq_len * seq), seq
    assert set(by_doc) == set(ns)
    for doc, frags in by_doc.items():
        pos = 0
        for off, n in sorted(frags):
            assert off == pos, (doc, off, pos)
            pos += n
        assert pos == ns[doc], doc


def _run_partitions(parts: list[list[pd.DataFrame]], seq_len=S) -> set[tuple]:
    """pack_fragments' two kernel passes over hand-made doc_id-sorted
    range partitions (each a list of Arrow-sized batches)."""
    totals = [
        tuple(row) for p in parts
        for out in _partition_totals(iter(p))
        for row in out.itertuples(index=False)
    ]
    kernel = _fragment_kernel(*fold_offsets(totals), seq_len)
    return {
        tuple(int(v) for v in row)
        for p in parts
        for out in kernel(iter(p))
        for row in out[list(FRAGMENT_COLS)].itertuples(index=False)
    }


def _batch(ids, ns) -> pd.DataFrame:
    return pd.DataFrame(
        {"doc_id": np.array(ids, np.int64), "n": np.array(ns, np.int64)}
    )


@settings(max_examples=60, deadline=None)
@given(
    ns=st.lists(st.integers(1, 3 * S), max_size=40),
    cuts=st.lists(st.integers(0, 40), max_size=6),
    batch=st.integers(1, 7),
    seq_len=st.sampled_from([1, 7, S]),
)
def test_kernels_match_reference_over_range_partitions(ns, cuts, batch, seq_len):
    """Random documents cut into range partitions at random points
    (repeated cuts make empty partitions) and each partition into
    batches of ``batch`` rows, plus a partition with no batches."""
    ids = list(range(10, 10 + 3 * len(ns), 3))
    bounds = sorted([0, len(ns), *(min(c, len(ns)) for c in cuts)])
    parts: list[list[pd.DataFrame]] = [[]]
    for lo, hi in zip(bounds, bounds[1:]):
        parts.append([
            _batch(ids[i:min(i + batch, hi)], ns[i:min(i + batch, hi)])
            for i in range(lo, hi, batch)
        ] or [_batch([], [])])
    got = _run_partitions(parts, seq_len)
    assert got == reference(ids, ns, seq_len)
    check_geometry(got, dict(zip(ids, ns)), seq_len)


def test_fold_offsets_orders_partitions_by_first_doc():
    firsts, offsets = fold_offsets([(30, 5), (1, 7), (12, 100)])
    assert firsts.tolist() == [1, 12, 30]
    assert offsets.tolist() == [0, 7, 107]
    firsts, offsets = fold_offsets([])
    assert len(firsts) == 0


CASES = {
    "empty": [],
    "one document": [1],
    "one long document": [3 * S + 5],
    "multiples of 512": [S, 2 * S, S, 3 * S],
    "spanning several sequences": [5, 2 * S + 100, 1, S - 1, 4 * S, 7],
}


def _counts(spark, ns):
    """(doc_ids, counts frame): descending doc_ids, rows out of order."""
    ids = [1000 - 7 * i for i in range(len(ns))]
    rows = list(zip(ids, ns))
    return ids, spark.createDataFrame(rows[1::2] + rows[::2], "doc_id bigint, n bigint")


@pytest.mark.parametrize("case", sorted(CASES))
def test_pack_fragments_edge_cases(spark, case):
    ns = CASES[case]
    ids, counts = _counts(spark, ns)
    got = {tuple(r) for r in pack_fragments(spark, counts, S).collect()}
    assert got == reference(ids, ns)
    check_geometry(got, dict(zip(ids, ns)))


def test_pack_fragments_carries_offsets_across_batches_and_partitions(spark):
    """Many documents over more range partitions than cores (AQE's
    coalescing, which makes a small corpus one partition, is off),
    each partition streamed as several Arrow batches."""
    rng = np.random.default_rng(7)
    ns = rng.integers(1, 3 * S, 300).tolist()
    ids, counts = _counts(spark, ns)
    conf = {
        "spark.sql.shuffle.partitions": "16",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "5",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        frag = pack_fragments(spark, counts, S)
        assert frag.rdd.getNumPartitions() > 4
        got = {tuple(r) for r in frag.collect()}
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert got == reference(ids, ns)
    check_geometry(got, dict(zip(ids, ns)))


@pytest.mark.parametrize("case", sorted(CASES))
def test_packed_sequences_is_the_fragment_sum(spark, case):
    """The closed form equals the per-sequence sums of the fragments."""
    ns = CASES[case]
    ids, counts = _counts(spark, ns)
    want: dict[int, int] = {}
    for seq, _doc, _so, _do, n_tok in reference(ids, ns):
        want[seq] = want.get(seq, 0) + n_tok
    got = {r.seq_id: r.seq_tokens for r in packed_sequences(spark, counts, S).collect()}
    assert got == want


def test_token_counts_match_spark_split(spark):
    """The kernel's count is Spark's size(filter(split(text, ' '),
    x -> x != '')), and rows with n < 1 or a null text drop out."""
    from pyspark.sql import functions as F

    texts = ["a b", " a  b ", "", "   ", None, "x", "tab\tsep  word", "é ü  ß"]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    want = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id",
            F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias("n"),
        ).collect()
        if (r.n or 0) >= 1
    }
    got = {r.doc_id: r.n for r in token_counts(docs).collect()}
    assert got == want == {0: 2, 1: 2, 5: 1, 6: 2, 7: 3}


def test_dataset_build_kernel_matches_spark_expressions(spark):
    """q_dataset_build's front kernel keeps exactly the rows, n and md5
    of the Catalyst quality filter over the dup-injected corpus."""
    from pyspark.sql import functions as F

    from hortacloud_importer_spark.queries.dedup import (
        _DSB_STOPWORDS,
        _dataset_build_docs,
    )

    texts = [
        "the cat sat on mat",  # 5 words, stop share 0.4
        "one two three four",  # 4 words
        "a  b c d e",  # an empty word counts in n_words, not in n
        " " * 6,  # 7 empty words: n = 0
        None,
        "w " * 99 + "the",  # share 1/100: kept at the 0.01 bound
        "w " * 100 + "the",  # share 1/101: dropped
        "x " * 2000,  # 2001 words
        "the é ü ß ok",
        "the cat sat on mat",  # a duplicate text
    ]
    rows = [(i * 5 + (i % 2), f"src{i % 3}", t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    dup = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "source", "text"
    )
    words = F.split("text", " ")
    n_words = F.size(words).cast("bigint")
    stops = F.size(F.filter(words, lambda w: w.isin(*_DSB_STOPWORDS)))
    share = stops.cast("double") / n_words
    n = F.size(F.filter(words, lambda x: x != "")).cast("bigint")
    want = (
        docs.unionByName(dup)
        .filter((n_words >= 5) & (n_words <= 2000) & (share >= 0.01) & (n >= 1))
        .select(F.md5("text").alias("fp"), "doc_id", "source", n.alias("n"))
    )
    got = docs.mapInPandas(
        _dataset_build_docs, "fp string, doc_id bigint, source string, n bigint"
    )
    assert sorted(got.collect()) == sorted(want.collect())
    assert len(want.collect()) == 8
