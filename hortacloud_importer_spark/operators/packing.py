"""Sequence packing (SURVEY §2.K1+F2): documents laid end to end in
doc_id order and cut into training sequences of S (``seq_len``)
tokens.

Two forms, by what the consumer needs:

- :func:`packed_sequences`, per-sequence accounting. The documents
  cover [0, T) of the token stream, T their token total, so sequence
  ``s`` (``0 <= s < ceil(T / S)``) holds ``min(S, T - S*s)`` tokens
  whatever the documents are. One ``sum(n)`` job brings T to the
  driver and the sequences are a ``spark.range``: no document row is
  ordered, exchanged or exploded.
- :func:`pack_fragments`, the per-document read index. It needs each
  document's global token offset: the counts are range-partitioned by
  doc_id and sorted within partitions (the distributed sort a global
  orderBy uses), one collect brings the per-partition token totals
  (at most ``spark.sql.shuffle.partitions`` rows) to the driver, which
  folds them into offsets, and one kernel takes each partition's
  exclusive cumsum in NumPy and emits its fragments. No window and no
  SinglePartition exchange sees document rows.

:func:`token_counts` is the ``(doc_id, n)`` input of a raw corpus:
the non-empty strings of ``split(text, ' ')``, as a map kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FRAGMENT_COLS = ("seq_id", "doc_id", "seq_off", "doc_off", "n_tok")


def _count_tokens(batches):
    """mapInPandas kernel: (doc_id, text) rows to (doc_id, n) for every
    text with n >= 1 non-empty words. A null text is dropped."""
    for pdf in batches:
        ids, ns = [], []
        for doc, text in zip(pdf["doc_id"], pdf["text"]):
            if isinstance(text, str):
                words = text.split(" ")
                n = len(words) - words.count("")
                if n >= 1:
                    ids.append(doc)
                    ns.append(n)
        if ids:
            yield pd.DataFrame(
                {
                    "doc_id": np.array(ids, pdf["doc_id"].dtype),
                    "n": np.array(ns, np.int64),
                }
            )


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n) of a (doc_id, text) frame: ``n`` is Spark's
    ``size(filter(split(text, ' '), x -> x != ''))``, rows with n < 1
    or a null text dropped."""
    id_type = docs.schema["doc_id"].dataType.simpleString()
    return docs.select("doc_id", "text").mapInPandas(
        _count_tokens, f"doc_id {id_type}, n bigint"
    )


def packed_sequences(spark: SparkSession, counts: DataFrame, seq_len: int) -> DataFrame:
    """(seq_id, seq_tokens) of the documents of ``counts`` (doc_id, n
    with n >= 1) packed end to end into ``seq_len``-token sequences, in
    closed form: one job sums n, then sequence s holds
    ``min(seq_len, T - seq_len*s)`` of the T tokens."""
    total = int(counts.agg(F.sum("n")).first()[0] or 0)
    tokens = F.least(F.lit(seq_len).cast("bigint"), total - F.col("id") * seq_len)
    return spark.range(-(-total // seq_len)).select(
        F.col("id").alias("seq_id"), tokens.alias("seq_tokens")
    )


def fragments(
    doc_id: np.ndarray, n: np.ndarray, start: int, seq_len: int
) -> dict[str, np.ndarray]:
    """The fragments of documents ``doc_id`` (in doc_id order) with
    token counts ``n`` (each >= 1) laid end to end from global token
    offset ``start``: one per (sequence, document) pair they share,
    as :data:`FRAGMENT_COLS` arrays. ``seq_off`` and ``doc_off`` are a
    fragment's start inside its sequence and its document, ``n_tok``
    its length."""
    n = np.asarray(n, np.int64)
    prefix = start + np.cumsum(n) - n
    first = prefix // seq_len
    k = (prefix + n - 1) // seq_len - first + 1  # sequences per document
    doc = np.repeat(np.arange(len(n)), k)
    # each document's fragments count up from its first sequence
    seq = first[doc] + np.arange(len(doc)) - np.repeat(np.cumsum(k) - k, k)
    lo = np.maximum(seq * seq_len, prefix[doc])
    hi = np.minimum((seq + 1) * seq_len, prefix[doc] + n[doc])
    return {
        "seq_id": seq,
        "doc_id": np.asarray(doc_id)[doc],
        "seq_off": lo - seq * seq_len,
        "doc_off": lo - prefix[doc],
        "n_tok": hi - lo,
    }


def _partition_totals(batches):
    """mapInPandas kernel over a doc_id-sorted range partition: one row,
    its first doc_id and token total (nothing for an empty partition)."""
    first, total = None, 0
    for pdf in batches:
        if len(pdf):
            if first is None:
                first = pdf["doc_id"].iloc[0]
            total += int(pdf["n"].sum())
    if first is not None:
        yield pd.DataFrame({"first": [first], "tokens": [total]})


def fold_offsets(totals) -> tuple[np.ndarray, np.ndarray]:
    """Each nonempty partition's (first doc_id, token total), in any
    order, to the sorted first doc_ids and each one's global token
    offset: the exclusive cumulative sum of the totals in doc_id
    order."""
    totals = sorted((int(first), int(tokens)) for first, tokens in totals)
    firsts = np.array([t[0] for t in totals], np.int64)
    offsets = np.cumsum([0] + [t[1] for t in totals[:-1]], dtype=np.int64)
    return firsts, offsets


def _fragment_kernel(firsts: np.ndarray, offsets: np.ndarray, seq_len: int):
    """mapInPandas kernel over the doc_id-sorted range partitions that
    :func:`_partition_totals` read: a partition's global offset is the
    one folded for its first doc_id (range partitions are disjoint, so
    it is unique), carried across its Arrow batches."""

    def pack(batches):
        start = None
        for pdf in batches:
            if not len(pdf):
                continue
            if start is None:
                i = int(np.searchsorted(firsts, pdf["doc_id"].iloc[0]))
                start = int(offsets[i])
            n = pdf["n"].to_numpy(np.int64)
            yield pd.DataFrame(fragments(pdf["doc_id"].to_numpy(), n, start, seq_len))
            start += int(n.sum())

    return pack


def pack_fragments(spark: SparkSession, counts: DataFrame, seq_len: int) -> DataFrame:
    """The fragment read index (:data:`FRAGMENT_COLS`) of ``counts``
    (doc_id, n with n >= 1, doc_ids unique and non-null) packed end to
    end in doc_id order into ``seq_len``-token sequences.

    ``counts`` is range-partitioned by doc_id, sorted within partitions
    and ``localCheckpoint``-ed (16 bytes a document), so neither pass
    below recomputes its upstream. The partition count is left to AQE,
    which coalesces adjacent ranges to its advisory size: a small corpus
    is one partition, so each pass below is one Python task, not one
    per shuffle partition. One collect brings each partition's first
    doc_id and token total to the driver, which folds them into global
    offsets in doc_id order; one kernel then emits each partition's
    fragments."""
    ranged = (
        counts.repartitionByRange("doc_id")
        .sortWithinPartitions("doc_id")
        .localCheckpoint()
    )
    id_type = counts.schema["doc_id"].dataType.simpleString()
    totals = ranged.mapInPandas(
        _partition_totals, f"first {id_type}, tokens bigint"
    ).collect()
    return ranged.mapInPandas(
        _fragment_kernel(*fold_offsets(totals), seq_len),
        f"seq_id bigint, doc_id {id_type}, seq_off bigint, doc_off bigint, "
        "n_tok bigint",
    )
