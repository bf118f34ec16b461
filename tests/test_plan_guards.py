"""Plan-shape regression guards: the properties that make the engine scale
must be visible in the optimized plan, not just asserted in prose —
partition pruning to the term's tbucket directory, predicate pushdown into
the parquet scan, and broadcast joins for small sides."""

from __future__ import annotations

import pytest

from es_indexer_spark.corpus import synth_transcripts
from es_indexer_spark.index.build import build_index, term_bucket
from es_indexer_spark.query.engine import IndexSearcher


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("plan_idx"))
    df = synth_transcripts(spark, 40, 5, seed=23)
    build_index(spark, df, idx, n_buckets=8, n_segments=2)
    return IndexSearcher(spark, idx)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_postings_scan_prunes_partitions_and_pushes_term_filter(searcher):
    df = searcher._postings_df(["baco"])
    plan = _plan(df)
    b = term_bucket("baco", searcher.n_buckets)
    # partition pruning: only the term's tbucket directory is read
    assert "PartitionFilters" in plan
    assert f"tbucket#" in plan or f"[{b}]" in plan or f"({b})" in plan
    # predicate pushdown: the term equality reaches the parquet reader
    assert "PushedFilters" in plan and "baco" in plan


def test_doc_stats_projection_prunes_columns(searcher):
    df = searcher.doc_stats_df().select("doc_ord", "dl")
    plan = _plan(df)
    # ReadSchema carries only the projected columns, never text
    rs = plan[plan.index("ReadSchema") :][:200]
    assert "doc_ord" in rs and "dl" in rs and "text" not in rs


def test_keyset_pagination_pushes_cursor_predicate(searcher):
    df = searcher.scan_after(("conv00000010", 2), page_size=5)
    plan = _plan(df)
    assert "PushedFilters" in plan and "conv_id" in plan


def test_term_stats_prefix_scan_pushes_startswith(searcher):
    td = searcher._term_stats_sdf()
    plan = _plan(td.filter(td["term"].startswith("ba")))
    assert "StringStartsWith" in plan or "StartsWith" in plan


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    # the corpus side must never shuffle for the join: the benchmark
    # n-gram set is the broadcast side by construction
    from es_indexer_spark.ops import cleaning, sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = sampling.hash_sample(docs, 0.1)
    plan = _plan(cleaning.decontaminate(docs, bench, n=8))
    assert "BroadcastExchange" in plan


def test_curate_has_no_sort_merge_join(spark, sf_dir):
    # keep-first is ONE window shuffle; every join must stay broadcast
    from es_indexer_spark.ops import cleaning, sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = sampling.hash_sample(docs, 0.05)
    plan = _plan(cleaning.curate(docs, bench))
    assert "SortMergeJoin" not in plan
    assert "Window" in plan


def test_hash_sample_is_pure_pushed_filter(spark, sf_dir):
    # deterministic sampling adds NO exchange — it is a filter at the scan
    from es_indexer_spark.ops import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(sampling.hash_sample(docs, 0.25))
    assert "Exchange" not in plan


def test_tombstone_mask_small_set_is_inlined_literal(spark):
    import numpy as np

    from es_indexer_spark.streaming.incremental import mask_tombstones

    df = spark.range(100).withColumnRenamed("id", "doc_ord")
    plan = _plan(mask_tombstones(df, np.arange(5, dtype=np.int64)))
    assert "LeftAnti" not in plan  # small set stays a pushed-down literal


def test_tombstone_mask_heavy_churn_is_anti_join_not_in_literal(spark):
    """~50k tombstones: the mask must be a broadcast anti-join; a 50k-
    element IN-literal would serialize into every task and fall off the
    pushdown path."""
    import numpy as np

    from es_indexer_spark.streaming.incremental import mask_tombstones

    df = spark.range(100_000).withColumnRenamed("id", "doc_ord")
    tombs = np.arange(0, 100_000, 2, dtype=np.int64)  # 50k tombstones
    out = mask_tombstones(df, tombs)
    plan = _plan(out)
    assert "LeftAnti" in plan and "Broadcast" in plan
    # the giant literal never appears in the plan text
    assert len(plan) < 100_000
    assert out.count() == 50_000


def test_search_df_enrichment_is_bounded_pointread(searcher):
    """The distributed top-k's returned plan must be the k-row stored-
    fields fetch, never a lazy full-table join: below the plan-bloat
    threshold the fetch already happened as a driver-side pyarrow
    point-read (doc_stats is doc_ord-ordered, so the filter prunes to
    <=k row groups) and the plan is a k-row LOCAL relation with no
    parquet scan left in it; above the threshold it is the bounded
    broadcast join."""
    df = searcher.search_df(["baco"], k=5)
    plan = _plan(df)
    # no corpus rescan hides in the returned plan
    assert "FileScan" not in plan and "Scan parquet" not in plan, plan[:2000]
    assert "LocalTableScan" in plan or "LocalRelation" in plan, plan[:2000]
    assert len(df.collect()) <= 5
    # past the shared IN-literal threshold: distributed broadcast join,
    # no giant literal in the plan
    import es_indexer_spark.planlimits as pl

    old = pl.IN_LITERAL_MAX
    pl.IN_LITERAL_MAX = 0
    try:
        df2 = searcher.search_df(["baco"], k=5)
        plan2 = _plan(df2)
        assert "Broadcast" in plan2
        assert len(plan2) < 100_000
        assert df2.collect() == df.collect()
    finally:
        pl.IN_LITERAL_MAX = old


def _scan_num_files(df) -> int:
    """numFiles metric of the (single) parquet scan leaf after execution."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    leaves = plan.collectLeaves()
    n = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        m = leaf.metrics()
        if m.contains("numFiles"):
            n += int(m.apply("numFiles").value())
    return n


def test_fuzzy_expansion_prunes_length_partitions(searcher):
    """The round-4 perf-weak: fuzzy-AUTO expansion used to scan the WHOLE
    term dictionary (the length band could not prune row groups).
    term_stats is now hive-partitioned by capped term length, so the
    band is a PartitionFilter — the executed scan must read strictly
    fewer files than the full dictionary, and the expansion itself must
    be unchanged."""
    import os

    from pyspark.sql import functions as F

    from es_indexer_spark.index.build import term_len_band

    td = searcher._term_stats_sdf()
    assert "tlen" in td.columns  # layout present
    # multiple length partitions exist, else pruning is vacuous
    tdirs = [d for d in os.listdir(searcher.term_stats_path) if d.startswith("tlen=")]
    assert len(tdirs) > 2

    q = "bacoz"  # AUTO(5) = 1 edit
    lo, hi = term_len_band(len(q), 1)
    pruned = searcher._tlen_prune(td, lo, hi).filter(
        (F.length("term") >= len(q) - 1)
        & (F.length("term") <= len(q) + 1)
        & (F.levenshtein(F.lit(q), F.col("term")) <= 1)
    )
    plan = _plan(pruned)
    assert "PartitionFilters" in plan and "tlen" in plan.split("PartitionFilters", 1)[1][:200]

    full_files = _scan_num_files(td.select("term"))
    pruned_files = _scan_num_files(pruned.select("term"))
    assert 0 < pruned_files < full_files, (pruned_files, full_files)

    # selection identical to the unpruned predicate (band is a superset
    # of the exact filters)
    got = searcher.expand_fuzzy_df(q)
    want = sorted(
        r["term"]
        for r in td.filter(F.levenshtein(F.lit(q), F.col("term")) <= 1)
        .select("term").collect()
    )
    assert sorted(got) == want
