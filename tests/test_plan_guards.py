"""Plan-shape regression guards: the properties that make the engine scale
must be visible in the optimized plan, not just asserted in prose —
partition pruning to the term's tbucket directory, predicate pushdown into
the parquet scan, broadcast joins for small sides — and in the files the
term-dictionary scan opens."""

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

    from es_indexer_spark.planlimits import drop_ordinals

    df = spark.range(100).withColumnRenamed("id", "doc_ord")
    plan = _plan(drop_ordinals(df, np.arange(5, dtype=np.int64)))
    assert "LeftAnti" not in plan  # small set stays a pushed-down literal


def test_tombstone_mask_heavy_churn_is_anti_join_not_in_literal(spark):
    """~50k tombstones: the mask must be a broadcast anti-join; a 50k-
    element IN-literal would serialize into every task and fall off the
    pushdown path."""
    import numpy as np

    from es_indexer_spark.planlimits import drop_ordinals

    df = spark.range(100_000).withColumnRenamed("id", "doc_ord")
    tombs = np.arange(0, 100_000, 2, dtype=np.int64)  # 50k tombstones
    out = drop_ordinals(df, tombs)
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


@pytest.fixture(scope="module")
def scan(spark, searcher):
    """The same index with its term dictionary read by the pruned
    term_stats scan (the source above ``driver_max_docs``)."""
    s = IndexSearcher(spark, searcher.index_dir)
    s.driver_max_docs = 0
    return s


def _read(scan, monkeypatch, expand) -> tuple[list[str], set[str]]:
    """(the expansion, the term_stats files its dictionary read opened)."""
    opened: set[str] = set()
    fragments = scan._term_stats_fragments

    def spy(filt):
        frags = fragments(filt)
        opened.update(f.path for f in frags)
        return frags

    monkeypatch.setattr(scan, "_term_stats_fragments", spy)
    return expand(), opened


def _edit_distance(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _by_df(td, pred) -> list[str]:
    """Every dictionary term ``pred`` accepts, highest df first, ties in
    term order."""
    return [t for _, t in sorted((-d, t) for t, d in zip(td["term"], td["df"]) if pred(t))]


def test_prefix_expansion_reads_pruned_term_stats(searcher, scan, monkeypatch):
    """A prefix expansion on the scan source opens only the length
    partitions no shorter than the prefix — a strict, non-empty subset
    of the term_stats files — and selects what the unpruned predicate
    selects over the whole dictionary."""
    all_files = {f.path for f in scan._term_stats_fragments(None)}
    got, opened = _read(scan, monkeypatch, lambda: scan.expand_prefix("baco", 10_000))
    assert 0 < len(opened) < len(all_files), (opened, all_files)
    assert got and got == _by_df(
        searcher.term_dictionary(), lambda t: t.startswith("baco"))


def test_fuzzy_expansion_prunes_length_partitions(searcher, scan, monkeypatch):
    """Fuzzy-AUTO expansion on the scan source opens only the tlen
    partitions of its length band (term_stats is hive-partitioned by
    capped term length), and its selection equals the unpruned
    edit-distance predicate over the whole dictionary."""
    all_files = {f.path for f in scan._term_stats_fragments(None)}
    assert len(all_files) > 2  # else pruning is vacuous
    q = "bacoz"  # AUTO(5) = 1 edit
    got, opened = _read(scan, monkeypatch, lambda: scan.expand_fuzzy(q, max_expansions=10_000))
    assert 0 < len(opened) < len(all_files), (opened, all_files)
    assert got and got == _by_df(
        searcher.term_dictionary(), lambda t: _edit_distance(q, t) <= 1)
