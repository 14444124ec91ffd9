"""Third-derivation pins for the newest LLM-pipeline operators.

The registry already checks Spark == DuckDB for these queries; both
sides, however, implement the SAME algorithm sketch, so a shared
misreading (wrong greedy semantics in BPE, an off-by-one in substring
windows) would pass the oracle gate. These tests re-derive the
answers with plain-Python reference implementations — a suffix-naive
substring scan, a textbook Sennrich-style BPE trainer, a dict-based
decontaminator — and compare against the DUCKDB oracle output (the
cheaper side; Spark equality to DuckDB is covered by test_oracle).
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
L = 40  # dedup_substring window length


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    return c


def _docs(con):
    return con.execute("SELECT doc_id, text FROM documents").fetchall()


def _dup_corpus(con):
    rows = _docs(con)
    return rows + [
        (doc_id + 100000, text) for doc_id, text in rows if doc_id % 5 == 0
    ]


def substring_spans_ref(corpus, L: int = L) -> dict:
    """Plain-Python substring dedup over (doc_id, text) pairs: count
    every L-char window corpus-wide, then merge each doc's duplicated
    positions into maximal 0-based ``[s, e)`` spans."""
    counts: Counter = Counter()
    for _, text in corpus:
        for i in range(len(text) - L + 1):
            counts[text[i : i + L]] += 1
    out = {}
    for doc_id, text in corpus:
        spans = []
        for i in range(len(text) - L + 1):
            if counts[text[i : i + L]] < 2:
                continue
            if spans and i <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], i + L)
            else:
                spans.append([i, i + L])
        out[doc_id] = spans
    return out


def test_dedup_substring_reference(con):
    from hortacloud_importer_spark.queries.dedup import _SUBSTR_ORACLE

    corpus = _dup_corpus(con)
    ref = substring_spans_ref(corpus)
    expected = {}
    for doc_id, text in corpus:
        spans = ref[doc_id]
        expected[doc_id] = (
            len(spans),
            sum(e - s for s, e in spans),
            len(text),
        )
    got = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(_SUBSTR_ORACLE).fetchall()
    }
    assert got == expected

    # the APPLY side: remove the spans and fingerprint the remainder
    from hortacloud_importer_spark.queries.dedup import (
        _SUBSTR_APPLY_ORACLE,
    )

    cleaned_expect = {}
    for doc_id, text in corpus:
        out, prev = [], 0
        for s, e in ref[doc_id]:
            out.append(text[prev:s])
            prev = e
        out.append(text[prev:])
        cleaned = "".join(out)
        cleaned_expect[doc_id] = (
            hashlib.md5(cleaned.encode()).hexdigest(),
            len(cleaned),
        )
    got = {
        r[0]: (r[1], r[2])
        for r in con.execute(_SUBSTR_APPLY_ORACLE).fetchall()
    }
    assert got == cleaned_expect


def _py_bpe_train(words: Counter, k: int):
    """Textbook BPE: argmax adjacent pair (count desc, pair asc),
    merge greedily left-to-right non-overlapping within each word."""
    seqs = {w: list(w) for w in words}
    merges = []
    for rank in range(1, k + 1):
        pairs: Counter = Counter()
        for w, cnt in words.items():
            t = seqs[w]
            for a, b in zip(t, t[1:]):
                pairs[(a, b)] += cnt
        (a, b), freq = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append((rank, f"{a} {b}", freq))
        for w, t in seqs.items():
            out, i = [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            seqs[w] = out
    return merges, seqs


def test_bpe_merges_and_encode_reference(con):
    from hortacloud_importer_spark.queries.text import (
        _BPE_MERGES,
        _bpe_encode_oracle,
        _bpe_oracle,
    )

    words: Counter = Counter()
    per_doc: dict = {}
    for doc_id, text in _docs(con):
        ws = [w for w in text.split(" ") if w]
        per_doc[doc_id] = ws
        words.update(ws)
    merges, seqs = _py_bpe_train(words, _BPE_MERGES)

    got = sorted(con.execute(_bpe_oracle(_BPE_MERGES)).fetchall())
    assert got == sorted(merges)

    expected = {
        doc_id: (
            len(ws),
            sum(len(w) for w in ws),
            sum(len(seqs[w]) for w in ws),
        )
        for doc_id, ws in per_doc.items()
        if ws
    }
    got = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            _bpe_encode_oracle(_BPE_MERGES)
        ).fetchall()
    }
    assert got == expected


def test_decontaminate_reference(con):
    from hortacloud_importer_spark.queries.dedup import _DECON_ORACLE

    bench_grams: dict = defaultdict(set)  # gram -> bench doc ids
    corpus: dict = {}
    for doc_id, text in _docs(con):
        ws = [w for w in text.split(" ") if w]
        grams = {
            " ".join(ws[i : i + 5]) for i in range(len(ws) - 4)
        }
        if doc_id % 10 == 7:
            for g in grams:
                bench_grams[g].add(doc_id)
        else:
            corpus[doc_id] = grams
    expected = {}
    for doc_id, grams in corpus.items():
        shared = {g for g in grams if g in bench_grams}
        hit_docs = set().union(
            *(bench_grams[g] for g in shared)
        ) if shared else set()
        expected[doc_id] = (
            len(shared),
            len(hit_docs),
            len(shared) >= 3,
        )
    got = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(_DECON_ORACLE).fetchall()
    }
    assert got == expected


def test_substring_hash_is_collision_safe_here(con):
    """The oracle groups by md5; sanity-check that no two DISTINCT
    windows share a digest in the fixture corpus (so hash grouping
    equals string grouping for every asserted value above)."""
    seen: dict = {}
    for _, text in _dup_corpus(con):
        for i in range(len(text) - L + 1):
            w = text[i : i + L]
            h = hashlib.md5(w.encode()).hexdigest()
            assert seen.setdefault(h, w) == w


def test_corpus_pack_index_tiles_sequences_and_documents(spark, sf_dir):
    """The fragment index must TILE: per sequence, fragments cover
    [0, 512) contiguously (the final sequence may end short); per
    document, fragments cover [0, n_tokens) contiguously in doc_off
    order. This is the property that lets a dataloader reconstruct
    any sequence by range-reading documents — the oracle hash proves
    engine agreement, this proves the geometry itself."""
    from hortacloud_importer_spark.queries.dedup import (
        _PACK_S,
        corpus_pack_index,
    )

    rows = corpus_pack_index(spark, sf_dir).collect()
    by_seq: dict = {}
    by_doc: dict = {}
    for r in rows:
        by_seq.setdefault(r.seq_id, []).append((r.seq_off, r.n_tok))
        by_doc.setdefault(r.doc_id, []).append((r.doc_off, r.n_tok))
    assert rows and len(by_seq) > 1 and len(by_doc) > 1
    last_seq = max(by_seq)
    for seq_id, frags in by_seq.items():
        frags.sort()
        pos = 0
        for off, n in frags:
            assert off == pos, (seq_id, off, pos)
            assert n >= 1
            pos = off + n
        if seq_id != last_seq:
            assert pos == _PACK_S, (seq_id, pos)
    for doc_id, frags in by_doc.items():
        frags.sort()
        pos = 0
        for off, n in frags:
            assert off == pos, (doc_id, off, pos)
            pos = off + n


def test_shard_deal_is_seed_keyed_and_partitions(spark):
    """The reusable shard deal: same seed => identical assignment AND
    identical within-shard order key; a new epoch seed => a genuinely
    different permutation; every id lands in exactly one shard and
    shards are reasonably balanced."""
    from hortacloud_importer_spark.queries.dedup import shard_deal

    ids = spark.range(2000).withColumnRenamed("id", "seq_id")
    a = {r.seq_id: (r.shard, r.u)
         for r in shard_deal(ids, 8, "epoch0").collect()}
    b = {r.seq_id: (r.shard, r.u)
         for r in shard_deal(ids, 8, "epoch0").collect()}
    c = {r.seq_id: (r.shard, r.u)
         for r in shard_deal(ids, 8, "epoch1").collect()}
    assert a == b  # reproducible across runs
    assert len(a) == 2000
    moved = sum(1 for k in a if a[k][0] != c[k][0])
    assert moved > 1000  # a new epoch re-deals most sequences
    sizes = {}
    for sh, _ in a.values():
        assert 0 <= sh < 8
        sizes[sh] = sizes.get(sh, 0) + 1
    assert len(sizes) == 8 and min(sizes.values()) > 2000 // 8 // 2
