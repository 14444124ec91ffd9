"""The minimizer-seeded substring finder must match a plain-Python
window-count reference exactly on adversarial corpora — the registry
oracle pins it on the fixture corpus; this suite attacks the seeding
machinery's edges: minimizer ties (degenerate repeated-char text),
spans at document boundaries, exactly-L documents, and islands that
merge."""

from __future__ import annotations

import pytest

from hortacloud_importer_spark.queries.dedup import (
    _SUBSTR_L,
    _substring_spans,
    substring_find,
)
from tests.test_llm_ops_reference import substring_spans_ref


def _corpus(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _rows(df):
    return sorted(
        (r["doc_id"], r["n_spans"], r["dup_chars"], r["total_chars"])
        for r in df.collect()
    )


CASES = {
    "degenerate_repeats_and_ties": [
        # one repeated char: every k-gram hash TIES in every window —
        # the rightmost tie-break must resolve by relative order
        # identically in both copies
        "a" * 200,
        "a" * 200,
        "b" * 120 + "c" * 120,
        "c" * 120 + "b" * 120,
    ],
    "exact_L_and_edges": [
        "x" * (_SUBSTR_L - 1),          # too short: excluded entirely
        "y" * _SUBSTR_L,                 # exactly L, duplicated
        "y" * _SUBSTR_L,
        "z" + "y" * _SUBSTR_L,           # shares the L-window at offset 2
        "unique prefix then " + "q" * 50 + " and a tail",
    ],
    "spans_at_boundaries": [
        # duplicated passage at the very START of one doc and the very
        # END of another; island merging across overlapping windows
        "SHARED-PASSAGE-" + "0123456789" * 5 + " then unique tail one",
        "unique head two then SHARED-PASSAGE-" + "0123456789" * 5,
        "noise " * 30,
    ],
    "multi_island": [
        ("AAAA-" + "m" * 60 + "-BBBB-" + "n" * 60 + "-CCCC") * 1,
        ("AAAA-" + "m" * 60 + "-XXXX-" + "n" * 60 + "-CCCC") * 1,
        "filler text that repeats nothing interesting at all " * 4,
    ],
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_seeded_equals_baseline(spark, name):
    """The baseline is the plain-Python window-count reference."""
    texts = CASES[name]
    corpus = _corpus(spark, texts)
    ref = substring_spans_ref(list(enumerate(texts)), _SUBSTR_L)
    # the finder's spans are 1-based, ``e`` exclusive
    spans = sorted(
        (r["doc_id"], r["s"] - 1, r["e"] - 1)
        for r in _substring_spans(corpus).collect()
    )
    assert spans == sorted(
        (d, s, e) for d, sp in ref.items() for s, e in sp
    ), name
    expected = sorted(
        (d, len(ref[d]), sum(e - s for s, e in ref[d]), len(t))
        for d, t in enumerate(texts)
    )
    assert _rows(substring_find(corpus)) == expected, name


def test_seeded_rejects_over_length_docs(spark):
    """The packed-long position field caps documents at 2^20-1 chars;
    longer docs must raise the documented error, not mis-decode."""
    from pyspark.errors import SparkRuntimeException

    corpus = _corpus(spark, ["w" * (1 << 20)])
    with pytest.raises(SparkRuntimeException, match="chunk it upstream"):
        substring_find(corpus).collect()
