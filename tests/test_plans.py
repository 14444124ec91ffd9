"""Physical-plan regression net: the optimizations the engine relies
on must be visible in the executed plan, not assumed. A refactor that
silently loses a pushdown/broadcast/TakeOrdered fails here."""

from __future__ import annotations

import re

import pytest

from hortacloud_importer_spark.registry import all_queries

SPECS = all_queries()


def _plan(spark, name, sf_dir):
    return (
        SPECS[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )


def test_projection_prunes_columns(spark, sf_dir):
    plan = _plan(spark, "project", sf_dir)
    assert "ReadSchema: struct<l_orderkey" in plan
    # untouched wide columns must not be read
    assert "l_comment" not in plan and "l_shipinstruct" not in plan


def test_range_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, "filter_range", sf_dir)
    assert "PushedFilters: [" in plan
    assert "GreaterThan" in plan or "LessThan" in plan or "Between" in plan


def test_broadcast_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, "join_broadcast", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_anti_join_shape(spark, sf_dir):
    plan = _plan(spark, "join_anti", sf_dir)
    assert "LeftAnti" in plan


def test_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, "sim_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan
    # the corpus must NOT be funneled through a single-partition window
    assert "Window" not in plan


def test_grouped_topk_pushes_group_limit(spark, sf_dir):
    """Per-group top-k must push a partial WindowGroupLimit below the
    shuffle: only k rows per group per mapper reach the exchange."""
    plan = _plan(spark, "topk", sf_dir)
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan


def test_limit_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, "limit_k", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_flagship_scans_once(spark, sf_dir):
    plan = _plan(spark, "agg_requant_params", sf_dir)
    assert plan.count("FileScan") == 1
    # fully fused: histogram window + aggregate, no second branch join
    assert "Join" not in plan


def test_downsample_is_single_aggregate(spark, sf_dir):
    """The 2x2x2 downsample must be one hash aggregate over bit math:
    no window, no UDF, exactly one shuffle above the scan."""
    plan = _plan(spark, "vol_downsample_2ndmax", sf_dir)
    assert "Window" not in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_dedup_exact_shuffles_hashes_not_payloads(spark, sf_dir):
    """The exact-dedup shuffle carries (fp, doc_id), never text."""
    plan = _plan(spark, "dedup_exact", sf_dir)
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert ex, plan[:2000]
    assert all("text" not in l for l in ex), ex


@pytest.mark.parametrize(
    "name",
    ["agg_mean", "agg_histogram", "text_wordcount", "vol_downsample_mean"],
)
def test_aggregates_have_partial_stage(spark, sf_dir, name):
    """Map-side combine: every groupBy must show a partial_ aggregate
    below its Exchange (8x data reduction before the shuffle for the
    downsamples; vocabulary-size shuffle for wordcount)."""
    plan = _plan(spark, name, sf_dir)
    assert "partial_" in plan, plan[:2000]


def test_market_share_broadcasts_dims(spark, sf_dir):
    """Q8-shape: every dimension side (part, supplier+nation,
    region+nation->customer) must reach the fact scan as a broadcast,
    and the part filter must be pushed into its scan."""
    df = SPECS["q_market_share"].fn(spark, sf_dir)
    df.collect()  # let AQE finalize the plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "EqualTo(p_type,PROMO)" in plan or "p_type" in plan.split("PushedFilters")[1][:200]


def test_top_supplier_max_is_broadcast_not_window(spark, sf_dir):
    """Q15-shape: the scalar max must come back as a broadcast onto the
    per-supplier aggregate — never a global (unpartitioned) window."""
    df = SPECS["q_top_supplier"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Broadcast" in plan


def test_cust_order_dist_keeps_outer_join(spark, sf_dir):
    """Q13-shape: the priority predicate must stay inside the LEFT
    OUTER join condition (zero-order customers survive), and both
    aggregations must have map-side partials."""
    plan = _plan(spark, "q_cust_order_dist", sf_dir)
    assert "LeftOuter" in plan
    assert "partial_count" in plan


def test_sort_rownum_has_no_global_window_over_the_data(spark, sf_dir):
    """F2's scale-safe form: the fact table is range-partitioned and
    locally numbered; the only SinglePartition exchange feeds the tiny
    per-partition-counts window, never the events scan. The window
    over the data must be partitioned (by the range-partition id)."""
    plan = _plan(spark, "sort_rownum", sf_dir)
    # the offsets side is broadcast back, the counts window is tiny
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the data-side row_number window is keyed by the range-partition
    # id, not unpartitioned
    assert "row_number() windowspecdefinition(_pid#" in plan
    single = [
        seg for seg in plan.split("Exchange ") if seg.startswith("SinglePartition")
    ]
    for seg in single:
        # a SinglePartition exchange may carry count partials (zero
        # columns read) or the tiny per-pid counts — never data rows
        head = seg[:500]
        if "parquet" in head:
            assert "ReadSchema: struct<>" in head, (
                f"data columns feed SinglePartition: {head}"
            )


def test_win_ntile_has_no_global_window_over_the_data(spark, sf_dir):
    """E4's standalone NTILE variant must use the same scale-safe shape
    as sort_rownum: range-partition + local row_number + closed-form
    tile — never NTILE OVER (ORDER BY ...) on the orders scan."""
    plan = _plan(spark, "win_ntile", sf_dir)
    assert "ntile(" not in plan
    assert "row_number() windowspecdefinition(_pid#" in plan
    single = [
        seg for seg in plan.split("Exchange ") if seg.startswith("SinglePartition")
    ]
    for seg in single:
        head = seg[:500]
        if "parquet" in head:
            assert "ReadSchema: struct<>" in head, (
                f"data columns feed SinglePartition: {head}"
            )


def test_no_registered_query_has_unpartitioned_window_over_facts():
    """Sweep the registry source: `Window.orderBy` without a preceding
    `partitionBy` is only allowed where the input is dim-sized and the
    docstring says so (sort_global over nation, the rownum offsets
    prefix-sum). Fact-table queries must use operators/rownum.py."""
    import pathlib
    import re

    qdir = pathlib.Path(__file__).parent.parent / "hortacloud_importer_spark"
    allowed = {
        ("queries/windows.py", "sort_global"),  # nation: 25 rows
        ("operators/rownum.py", "global_row_numbers"),  # <= npartitions rows
    }
    hits = []
    for py in qdir.rglob("*.py"):
        text = py.read_text()
        for m in re.finditer(r"Window\.orderBy\(", text):
            # which def contains this use?
            fn = None
            for dm in re.finditer(r"^def (\w+)", text[: m.start()], re.M):
                fn = dm.group(1)
            key = (str(py.relative_to(qdir.parent)).replace("hortacloud_importer_spark/", ""), fn)
            if key not in allowed:
                hits.append(key)
    assert not hits, f"unpartitioned Window.orderBy outside allowlist: {hits}"


def test_win_suite_single_exchange(spark, sf_dir):
    """All E3/E4 window specs share the user_id partition key -> ONE
    hash exchange on user_id, no SinglePartition anywhere."""
    plan = _plan(spark, "win_suite", sf_dir)
    assert "SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_dedup_df_cap_is_broadcast_anti_join(spark, sf_dir):
    """The hot-shingle cap must not add a posting-list shuffle: the
    df>cap survivors broadcast into a LeftAnti join."""
    plan = _plan(spark, "dedup_ngram_jaccard", sf_dir)
    assert "LeftAnti, BuildRight" in plan or (
        "BroadcastHashJoin" in plan and "LeftAnti" in plan
    )


def test_agg_moments_is_one_aggregate_pass(spark, sf_dir):
    """The consolidated D-family moments must stay ONE partial+final
    hash-aggregate pair over one scan — the whole point of fusing the
    six single-op variants."""
    plan = _plan(spark, "agg_moments", sf_dir)
    assert plan.count("HashAggregate") == 2
    assert plan.count("FileScan parquet") == 1
    assert "Exchange hashpartitioning(l_returnflag" in plan


def test_join_suite_facets_keep_their_strategies(spark, sf_dir):
    """Consolidation must not degrade the per-facet join strategies:
    the semi/anti stay (broadcast) hash joins, the as-of keeps its
    WindowGroupLimit-able shape, nothing falls back to a cartesian."""
    plan = _plan(spark, "join_suite", sf_dir)
    assert "LeftSemi" in plan
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "row_number" in plan  # the as-of top-1


@pytest.mark.parametrize(
    "qname", ["corpus_decontaminate", "corpus_decontaminate_norm"]
)
def test_decontaminate_broadcasts_bench_and_stays_map_only(
    spark, sf_dir, qname
):
    """The benchmark gram set must BROADCAST (the asymmetry IS the
    decontamination plan) and the corpus side must reach the join
    with no shuffle of its own — no pre-distinct of corpus grams.
    The normalized-token variant must keep the identical shape (its
    normalization is map-side regexp work)."""
    plan = _plan(spark, qname, sf_dir)
    assert "BroadcastHashJoin" in plan
    # exactly one broadcast (the bench grams). In the printed tree the
    # join's STREAMED (corpus) child sits between the BroadcastHashJoin
    # line and the BroadcastExchange line of the build side: that
    # segment must be shuffle-free — the bench side may dedup behind
    # its broadcast, the corpus side must reach the join map-local.
    join_subtree = plan.split("BroadcastHashJoin", 1)[1]
    corpus_side = join_subtree.split("BroadcastExchange", 1)[0]
    assert "Exchange" not in corpus_side, (
        "corpus grams were shuffled before the broadcast join:\n"
        + corpus_side
    )


def test_sample_mix_is_one_partial_aggregate(spark, sf_dir):
    """Mixture sampling is a stateless map-side filter + ONE
    map-side-combined aggregate: a single shuffle keyed by source."""
    plan = _plan(spark, "corpus_sample_mix", sf_dir)
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 1, plan
    assert "HashAggregate" in plan


def test_redact_pii_has_no_exchange(spark, sf_dir):
    """PII redaction is pure per-row Catalyst regexp work: the
    executed plan must contain NO exchange of any kind."""
    plan = _plan(spark, "text_redact_pii", sf_dir)
    assert "Exchange" not in plan


def _no_single_partition_reads_documents(plan):
    single = [
        seg for seg in plan.split("Exchange ")
        if seg.startswith("SinglePartition")
    ]
    for seg in single:
        head = seg[:500]
        if "parquet" in head:
            assert "ReadSchema: struct<>" in head, (
                f"data columns feed SinglePartition: {head}"
            )


def test_corpus_pack_has_no_global_window_over_the_data(spark, sf_dir):
    """Packing needs no window at all, in corpus_pack or in any query
    built on packing: the fragment index takes each range partition's
    cumulative sum in one kernel, and the per-sequence accounting is
    closed-form. No SinglePartition exchange reads document columns."""
    for qname in (
        "corpus_pack", "corpus_pack_index", "corpus_shard", "q_dataset_build"
    ):
        plan = _plan(spark, qname, sf_dir)
        assert not re.search(r"\bWindow \[", plan), (qname, plan)
        _no_single_partition_reads_documents(plan)


def test_pack_fragments_is_one_kernel_over_the_checkpoint(spark, sf_dir):
    """corpus_pack_index is the fragment kernel straight over the
    checkpointed range partitions: no exchange, join or explode."""
    plan = _plan(spark, "corpus_pack_index", sf_dir)
    assert "MapInPandas" in plan and "Scan ExistingRDD" in plan
    for op in ("Exchange", "Join", "Generate"):
        assert op not in plan, plan


def test_corpus_shard_deal_is_one_hash_exchange_on_shard(spark, sf_dir):
    """The shard deal is a pure map over the closed-form sequences (a
    Range, no document rows): the only exchange is the hash partition
    on `shard` for the accounting aggregate."""
    plan = _plan(spark, "corpus_shard", sf_dir)
    assert plan.count("Exchange ") == 1
    assert "Exchange hashpartitioning(shard" in plan
    assert "Range (" in plan
    _no_single_partition_reads_documents(plan)


def test_dataset_build_composite_plan_shape(spark, sf_dir):
    """The raw-crawl->shards composite packs in closed form: its
    executed plan deals a Range of sequences (the md5 dedup and the
    sampling ran in the token-total job), so it has no range
    partition (in the plan or checkpointed under it), no window and no
    cartesian join; the shard accounting is one hash exchange."""
    plan = _plan(spark, "q_dataset_build", sf_dir)
    assert "rangepartitioning" not in plan
    assert "ExistingRDD" not in plan
    assert "Range (" in plan
    assert "Exchange hashpartitioning(shard" in plan
    assert "CartesianProduct" not in plan
    _no_single_partition_reads_documents(plan)


@pytest.mark.parametrize(
    "qname", ["text_ngram_ppx", "text_repetition", "text_ngram_ppx_norm"]
)
def test_lm_text_ops_shuffle_digests_not_grams(spark, sf_dir, qname):
    """The n-gram LM score and the repetition signal key every
    aggregate/join on the 16-byte md5 digest: no exchange may carry
    gram text or the word array."""
    plan = _plan(spark, qname, sf_dir)
    for chunk in plan.split("Exchange")[1:]:
        first_line = chunk.splitlines()[0]
        assert "gram#" not in first_line and "ws#" not in first_line, (
            first_line
        )
        assert "text" not in first_line, first_line


def test_seeded_substring_dedup_plan(spark, sf_dir):
    """The minimizer-seeded finder's contract: no exchange ever
    carries document text (the broadcast hands anchor POSITIONS back
    to the corpus scan), the seed shuffle carries the int64 xxhash
    (not a wide digest), and the survivors side reaches the corpus
    via a broadcast join."""
    plan = _plan(spark, "dedup_substring", sf_dir)
    assert "xxhash64" in plan
    assert "BroadcastHashJoin" in plan
    for chunk in plan.split("Exchange")[1:]:
        first_line = chunk.splitlines()[0]
        assert "text" not in first_line, first_line


def test_substring_dedup_shuffles_binary_digest(spark, sf_dir):
    """Candidates are verified with the 16-byte BINARY digest (unhex),
    never the window text; document text must not appear in any
    exchange's output schema."""
    plan = _plan(spark, "dedup_substring", sf_dir)
    assert "unhex" in plan
    for chunk in plan.split("Exchange")[1:]:
        first_line = chunk.splitlines()[0]
        assert "text" not in first_line, first_line


def test_simhash_budget_adds_no_exchange_at_scale(spark, sf_dir):
    """The per-doc candidate budget's 100 TB contract: a doc's pairs
    all live in its own prefix band, so the budget's
    groupBy(band, doc_a) must reuse the band join's hash partitioning
    — rank-and-cut where the pairs are produced, never exchanging the
    (unbounded) pair stream. Verified in the at-scale join shape
    (sort-merge on band, broadcast disabled): the budgeted plan has
    exactly as many exchanges as the base capped query, and the
    collect_list aggregate pair (partial+final) sits collocated on
    the join with no Exchange between."""
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        base = _plan(spark, "dedup_simhash", sf_dir)
        budg = _plan(spark, "dedup_simhash_budget", sf_dir)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    assert budg.count("Exchange") == base.count("Exchange")
    # the final collect_list must not have an exchange between its
    # partial and final stages: walk the plan between the two
    # ObjectHashAggregate lines and assert no Exchange in the span
    lines = budg.splitlines()
    agg_idx = [
        i for i, ln in enumerate(lines) if "ObjectHashAggregate" in ln
    ]
    assert len(agg_idx) == 2, budg
    span = "\n".join(lines[agg_idx[0]: agg_idx[1] + 1])
    assert "Exchange" not in span, span


def test_ingest_increment_exchanges_digests_only(spark, sf_dir):
    """The incremental-ingest contract (corpus_ingest_increment): the
    classification join and the report aggregate move fingerprints and
    counters, never document text — at 100 TB the increment exchanges
    ~0.01% of corpus bytes. The returned plan reads from the
    materialized classification (localCheckpoint), so additionally
    assert the eager classification's own plan property by replaying
    the join: no exchange output schema carries `text`."""
    plan = _plan(spark, "corpus_ingest_increment", sf_dir)
    for chunk in plan.split("Exchange")[1:]:
        first_line = chunk.splitlines()[0]
        assert "text" not in first_line, first_line


def test_minhash_band_exchange_carries_ids_not_signatures(spark, sf_dir):
    """The round-15 LSH shuffle-payload contract (guide §2.3 / §8):
    in the at-scale join shape (sort-merge on (band, bucket),
    broadcast disabled, AQE off) the band exchanges move ONLY
    (doc_id, band, bucket) — never the 32-long signature array, whose
    band-duplicated copies would multiply the dominant LSH shuffle
    ~20x at 100 TB. Signatures travel once per side through the
    doc-keyed join-back exchanges instead."""
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = _plan(spark, "dedup_minhash", sf_dir)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    band_exchanges = [
        chunk.splitlines()[0]
        for chunk in plan.split("Exchange")[1:]
        if chunk.splitlines()[0].lstrip().startswith(
            "hashpartitioning(band"
        )
    ]
    assert band_exchanges, plan  # the LSH join must still shuffle bands
    for first_line in band_exchanges:
        assert "sig" not in first_line, first_line


def _final_plan(df) -> str:
    """The executed plan after a run: AQE's final plan, without the
    initial plan it prints below it."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize("name", ["sim_ann", "dedup_minhash"])
def test_ann_and_minhash_plans_have_no_higher_order_functions_or_cache(
    spark, sf_dir, name
):
    """Both queries score with plain arithmetic over kernel columns: no
    lambda (aggregate/zip_with are interpreted per element), and no
    cached relation (an eager cache is a job of its own per run)."""
    df = SPECS[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for banned in ("lambdafunction", "aggregate(", "zip_with(", "InMemoryRelation"):
        assert banned not in plan, banned
    assert "InMemoryTableScan" not in _final_plan(df)


def test_minhash_signature_kernel_runs_once(spark, sf_dir):
    """The signature frame feeds the band rows and both join-backs
    through ONE doc-keyed exchange, reused: the kernel appears once in
    the executed plan, adaptive or not (an inferred isnotnull filter
    above the kernel on one consumer would make the exchanges differ
    and run the kernel twice)."""
    plan = _final_plan(SPECS["dedup_minhash"].fn(spark, sf_dir))
    assert plan.count("MapInPandas text_signatures(") == 1, plan
    assert "ReusedExchange" in plan
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = _plan(spark, "dedup_minhash", sf_dir)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    assert plan.count("MapInPandas text_signatures(") == 1, plan
    assert plan.count("ReusedExchange") >= 2, plan


def test_simhash_signature_frame_is_exchanged_once_not_cached(spark, sf_dir):
    """dedup_simhash caches nothing: its signature frame is exchanged
    once by band, and the hot-band count and both join sides read that
    exchange, so the token aggregation runs once."""
    df = SPECS["dedup_simhash"].fn(spark, sf_dir)
    assert "InMemoryRelation" not in (
        df._jdf.queryExecution().optimizedPlan().toString()
    )
    plan = _final_plan(df)
    assert "InMemoryTableScan" not in plan
    # the per-(doc, token id) count, partial and final, once each
    for fn in ("count", "partial_count"):
        token_agg = rf"keys=\[doc_id#\d+L?, _h#\d+L?\], functions=\[{fn}\(1\)\]"
        assert len(re.findall(token_agg, plan)) == 1, plan
    assert "ReusedExchange" in plan, plan


@pytest.mark.parametrize("kind", ["stack", "n5", "hierarchy"])
def test_file_volume_first_pass_is_one_map_over_local_work(
    spark, tmp_path, monkeypatch, kind
):
    """The first pass of a stack, N5 or hierarchy import is one
    mapInPandas kernel over the local list of subtree roots: no
    Generate (no voxel rows), no BatchScan of a volume DataSource and
    no Exchange."""
    import numpy as np

    from hortacloud_importer_spark.pipelines import build_octree, octree
    from hortacloud_importer_spark.sources import listing
    from hortacloud_importer_spark.sources.n5 import chunk_store
    from hortacloud_importer_spark.sources.tiff import encode_tiff
    from tests.test_n5_zarr import _write_n5

    vol = np.random.default_rng(3).integers(1, 60000, (8, 8, 8)).astype(np.uint16)
    if kind == "stack":
        (tmp_path / "s.tif").write_bytes(encode_tiff(vol))
        volume = listing.stack_volume(str(tmp_path / "s.tif"))
    elif kind == "n5":
        _write_n5(tmp_path / "a.n5", vol, (4, 4, 4), "gzip")
        volume = listing.store_volume([(0, chunk_store(str(tmp_path / "a.n5")))])
    else:
        for ch in range(2):
            _write_n5(tmp_path / "h" / f"c{ch}" / "s0", vol, (4, 4, 4), "gzip")
        volume = listing.hierarchy_volume(str(tmp_path / "h"))
    plans = []
    run_pass = octree._window_pass

    def spy(*args):
        out = run_pass(*args)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(octree, "_window_pass", spy)
    build_octree(spark, volume, str(tmp_path / "out"), nlevels=2).collect()
    (plan,) = plans
    assert "MapInPandas" in plan and "LocalTableScan" in plan, plan
    for node in ("Generate", "BatchScan", "Exchange"):
        assert node not in plan, plan
