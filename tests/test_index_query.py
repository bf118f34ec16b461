"""End-to-end: build the inverted index over a seeded synthetic corpus and
prove every engine path rank-identical (docIDs AND float64 scores) to the
brute-force BM25 oracle — the analogue of the reference's golden STRICT
JSONAssert comparisons (StacCollectionMapperServiceTest.java:107-115) and
its query-behaviour ITs (IndexerServiceIT.java:213-243)."""

from __future__ import annotations

import numpy as np
import pytest

from es_indexer_spark.corpus import assign_doc_ordinals, synth_transcripts, with_doc_ids
from es_indexer_spark.index.build import build_index
from es_indexer_spark.oracle import oracle_from_spark
from es_indexer_spark.query.engine import IndexSearcher

QUERIES = [
    # (terms, mode) — the "reference query set": hot stop-word-like terms
    # (skew path), mid-frequency, rare, multi-term and/or, absent terms
    (["baco"], "or"),
    (["the"], "or"),
    (["baco", "cora"], "or"),
    (["baco", "cora", "dala"], "and"),
    (["quiel", "the", "42"], "or"),
    (["zzz_absent"], "or"),
    (["baco", "zzz_absent"], "and"),
    (["café", "verau"], "or"),
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("idx"))
    df = synth_transcripts(spark, n_convs=120, turns_per_conv=8, seed=7)
    res = build_index(
        spark, df, idx_dir, n_buckets=16, n_segments=6, n_batches=2,
        with_positions=True,
    )
    # oracle over the identical corpus with identical ordinals
    docs = assign_doc_ordinals(with_doc_ids(synth_transcripts(spark, 120, 8, seed=7)))
    oracle = oracle_from_spark(docs)
    searcher = IndexSearcher(spark, idx_dir)
    return res, oracle, searcher


def test_build_result(built):
    res, oracle, _ = built
    assert res.n_docs == 120 * 8 == oracle.n_docs
    assert res.avgdl == pytest.approx(oracle.avgdl)
    assert res.batches_run == 2


@pytest.mark.parametrize("terms,mode", QUERIES)
def test_rank_identity_driver_paths(built, terms, mode):
    _, oracle, searcher = built
    want = oracle.topk(terms, k=10, mode=mode)
    for strategy in ("exhaustive", "blockmax"):
        got = searcher.search(terms, k=10, mode=mode, strategy=strategy)
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), strategy
        np.testing.assert_allclose(
            got["score"].to_numpy(), want["score"].to_numpy(), rtol=0, atol=0
        )


@pytest.mark.parametrize("terms,mode", QUERIES[:5])
def test_rank_identity_distributed(built, terms, mode):
    _, oracle, searcher = built
    want = oracle.topk(terms, k=10, mode=mode)
    got = searcher.search_df(terms, k=10, mode=mode).toPandas()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_allclose(
        got["score"].to_numpy(), want["score"].to_numpy(), rtol=0, atol=0
    )


def test_boosts_rank_identity(built):
    _, oracle, searcher = built
    rb = {"assistant": 2.0, "system": 0.5}
    want = oracle.topk(["baco", "cora"], k=10, role_boosts=rb)
    got = searcher.search(["baco", "cora"], k=10, role_boosts=rb)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_allclose(got["score"].to_numpy(), want["score"].to_numpy())
    got_bm = searcher.search(["baco", "cora"], k=10, role_boosts=rb, strategy="blockmax")
    assert got_bm["doc_id"].tolist() == want["doc_id"].tolist()
    # tool boosts (tool is set on the tool-role turns only; null elsewhere)
    terms, tb = ["the", "baco"], {"bash": 8.0, "search": 0.25}
    want = oracle.topk(terms, k=10, role_boosts=rb, tool_boosts=tb)
    plain = oracle.topk(terms, k=10, role_boosts=rb)
    assert want["doc_id"].tolist() != plain["doc_id"].tolist()  # boost matters
    for strategy in ("exhaustive", "blockmax"):
        got = searcher.search(terms, k=10, role_boosts=rb, tool_boosts=tb,
                              strategy=strategy)
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), strategy
        np.testing.assert_allclose(got["score"].to_numpy(), want["score"].to_numpy())
    dist = searcher.search_df(terms, k=10, role_boosts=rb, tool_boosts=tb).toPandas()
    assert dist["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_allclose(dist["score"].to_numpy(), want["score"].to_numpy())


def test_posting_cache_eviction_refetches(built, spark):
    """A posting cache smaller than one query's terms evicts and re-fetches
    on every query; results must not change and the bound must hold. No
    term bucket is kept resident, so every term goes through that cache."""
    _, oracle, searcher = built
    small = IndexSearcher(spark, searcher.index_dir)
    small._CACHE_MAX_TERMS = 2
    small._RESIDENT_POSTINGS_BYTES = 0
    try:
        cycle = [
            (["baco", "cora", "dala"], "or"),
            (["the", "baco"], "and"),
            (["quiel", "the", "42"], "or"),
            (["baco", "cora", "dala"], "and"),
        ]
        for terms, mode in cycle * 2:
            want = oracle.topk(terms, k=10, mode=mode)
            for strategy in ("exhaustive", "blockmax"):
                got = small.search(terms, k=10, mode=mode, strategy=strategy)
                assert got["doc_id"].tolist() == want["doc_id"].tolist(), (terms, strategy)
                np.testing.assert_allclose(
                    got["score"].to_numpy(), want["score"].to_numpy(), rtol=1e-12
                )
                assert len(small._chunk_cache) <= 2
    finally:
        small.close()


def test_count_matches_oracle(built):
    _, oracle, searcher = built
    for terms, mode in QUERIES:
        ords, _ = oracle.score_all(terms, mode=mode)
        assert searcher.count(terms, mode=mode) == len(ords), (terms, mode)


def test_phrase_search(built):
    _, oracle, searcher = built
    # pick a phrase that actually exists: take two adjacent tokens of doc 0
    toks = oracle.tokens.iloc[0]
    phrase = toks[:2]
    want = set(oracle.phrase_match(list(phrase)).tolist())
    got = searcher.phrase_search(" ".join(phrase), k=1000)
    assert set(got["doc_ord"].tolist()) <= want
    assert len(got) == len(want)  # all phrase docs found (k large enough)


def test_prefix_and_fuzzy_expansion(built):
    _, oracle, searcher = built
    exp = searcher.expand_prefix("ba")
    assert exp and all(t.startswith("ba") for t in exp)
    # every dictionary term with that prefix and df>0 is reachable
    fz = searcher.expand_fuzzy("bacu")  # edit distance 1 of 'baco'
    assert "baco" in fz
    assert searcher.expand_fuzzy("ab") == []  # len<3 → distance 0, absent


def test_global_dfs_same_from_resident_dictionary(built, spark):
    # the distributed path's df lookup: the resident dictionary must
    # agree with the pruned term_stats read, absent terms included
    _, _, searcher = built
    vocab = searcher.term_dictionary()["term"].tolist()
    terms = [vocab[0], vocab[len(vocab) // 2], vocab[-1],
             "", "0absent", vocab[0] + "x", "~absent"]
    resident = IndexSearcher(spark, searcher.index_dir)
    resident.term_dictionary()
    cold = IndexSearcher(spark, searcher.index_dir)
    try:
        got = resident._global_dfs(terms)
        assert got == cold._global_dfs(terms)
        assert got[vocab[-1]] > 0 and got["~absent"] == 0
    finally:
        resident.close()
        cold.close()


def test_point_lookup_and_pagination(built):
    _, oracle, searcher = built
    row = searcher.get("conv00000003:2")
    assert len(row) == 1 and row["turn_idx"].iloc[0] == 2
    page1 = searcher.scan_after(None, page_size=10).toPandas()
    assert len(page1) == 10
    cur = (page1["conv_id"].iloc[-1], int(page1["turn_idx"].iloc[-1]))
    page2 = searcher.scan_after(cur, page_size=10).toPandas()
    assert len(page2) == 10
    assert set(map(tuple, page1[["conv_id", "turn_idx"]].values)).isdisjoint(
        set(map(tuple, page2[["conv_id", "turn_idx"]].values))
    )


def test_per_turn_text_equality(built, spark):
    """North-rule invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering between source and indexed doc store."""
    _, _, searcher = built
    src = with_doc_ids(synth_transcripts(spark, 120, 8, seed=7)).select(
        "conv_id", "turn_idx", "text"
    )
    idx = searcher.doc_stats_df().select("conv_id", "turn_idx", "text")
    diff = src.exceptAll(idx).count() + idx.exceptAll(src).count()
    assert diff == 0


def test_hot_term_skew_split_across_segments(built):
    """North-rule skew mitigation: a stop-word-like term's postings must be
    split across segments (the doc-range salt), and chunks must tile the
    doc space disjointly in order."""
    _, oracle, searcher = built
    chunks = searcher._postings_map(["the"])["the"]
    assert len(np.unique(chunks.seg)) > 1  # hot term spread over multiple segments
    assert int(chunks.df_chunk.sum()) == oracle.df["the"]
    # disjoint ordered ranges: every chunk starts after the previous ends
    assert (chunks.min_doc[1:] > chunks.max_doc[:-1]).all()
