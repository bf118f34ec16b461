"""Multi-field search: per-field indexes over the same corpus merged with
field boosts — ES multi_match (title^a + description^b shape)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from es_indexer_spark.corpus import assign_doc_ordinals, synth_transcripts, with_doc_ids
from es_indexer_spark.index.build import build_index
from es_indexer_spark.oracle import oracle_from_spark
from es_indexer_spark.query.engine import IndexSearcher
from es_indexer_spark.query.multifield import MultiFieldSearcher
from es_indexer_spark.streaming.incremental import delete_where


@pytest.fixture(scope="module")
def multi(spark, tmp_path_factory):
    df = synth_transcripts(spark, n_convs=50, turns_per_conv=4, seed=31)
    d1 = str(tmp_path_factory.mktemp("f_text"))
    d2 = str(tmp_path_factory.mktemp("f_sugg"))
    build_index(spark, df, d1, n_buckets=8, n_segments=2)
    build_index(spark, df, d2, n_buckets=8, n_segments=2, analyzer="suggest")
    s1, s2 = IndexSearcher(spark, d1), IndexSearcher(spark, d2)
    docs = assign_doc_ordinals(with_doc_ids(synth_transcripts(spark, 50, 4, seed=31)))
    o1 = oracle_from_spark(docs, analyzer="index")
    o2 = oracle_from_spark(docs, analyzer="suggest")
    return s1, s2, o1, o2


def _oracle_multi(o1, o2, terms, b1, b2, k, mode="or"):
    d1, s1 = o1.score_all(terms, mode="or")
    d2, s2 = o2.score_all(terms, mode="or")
    agg: dict[int, float] = {}
    for d, s in zip(d1, s1):
        agg[int(d)] = agg.get(int(d), 0.0) + b1 * s
    for d, s in zip(d2, s2):
        agg[int(d)] = agg.get(int(d), 0.0) + b2 * s
    if mode == "and":
        need = {t for t in set(terms)}
        ok = set()
        for d in agg:
            matched = {
                t for t in need
                if o1.tf_maps[list(o1.doc_ords).index(d)].get(t)
                or t in o2.tf_maps[list(o2.doc_ords).index(d)]
            }
            if matched >= need:
                ok.add(d)
        agg = {d: v for d, v in agg.items() if d in ok}
    items = sorted(agg.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [d for d, _ in items], [v for _, v in items]


def test_multifield_or_matches_summed_oracles(multi):
    s1, s2, o1, o2 = multi
    m = MultiFieldSearcher([(s1, 10.0), (s2, 2.0)])
    terms = ["baco", "cora"]
    got = m.search(terms, k=12)
    want_docs, want_scores = _oracle_multi(o1, o2, terms, 10.0, 2.0, k=12)
    assert got["doc_ord"].tolist() == want_docs
    np.testing.assert_allclose(got["score"].to_numpy(), want_scores, rtol=1e-12)


def test_multifield_and_mode(multi):
    s1, s2, o1, o2 = multi
    m = MultiFieldSearcher([(s1, 1.0), (s2, 1.0)])
    got = m.search(["baco", "cora"], k=50, mode="and")
    # every hit matches both terms in SOME field
    for d in got["doc_ord"]:
        i = list(o1.doc_ords).index(d)
        assert ("baco" in o1.tf_maps[i] or "baco" in o2.tf_maps[i])
        assert ("cora" in o1.tf_maps[i] or "cora" in o2.tf_maps[i])


def test_multifield_suggest_prefers_phrase_field(multi):
    s1, s2, _, _ = multi
    m = MultiFieldSearcher([(s1, 1.0), (s2, 5.0)])
    out = m.suggest("baco co", k=5)
    assert len(out) >= 1 and out["score"].is_monotonic_decreasing


def test_bool_prefix_fuzzy_auto(multi):
    """The reference's exact query shape (IndexerServiceIT.java:219-238):
    a misspelled non-last token must still match via AUTO fuzziness."""
    s1, s2, o1, _ = multi
    m = MultiFieldSearcher([(s1, 10.0), (s2, 5.0)])
    got = m.bool_prefix("bacu cor", k=10, fuzzy=True)  # 'bacu' ~1~ 'baco'
    assert len(got) > 0
    # every hit contains a fuzzy expansion of 'bacu' or a 'cor'-prefixed term
    exp = set(s1.expand_fuzzy("bacu")) | set(s1.expand_prefix("cor")) | set(
        s2.expand_fuzzy("bacu")
    ) | set(s2.expand_prefix("cor"))
    assert exp, "expansions must be non-empty"
    strict = m.bool_prefix("bacu cor", k=10, fuzzy=False)
    # fuzzy matching can only widen (or re-rank), never lose all results
    assert len(got) >= len(strict)


def test_bool_prefix_exact_merge_not_per_field_topk(multi):
    """Sum-of-full-vectors semantics: bool_prefix at k equals the head of
    bool_prefix at a huge k (no per-field truncation artifacts)."""
    s1, s2, _, _ = multi
    m = MultiFieldSearcher([(s1, 1.0), (s2, 5.0)])
    small = m.bool_prefix("baco co", k=5)
    big = m.bool_prefix("baco co", k=200)
    assert small["doc_ord"].tolist() == big["doc_ord"].tolist()[:5]
    np.testing.assert_allclose(
        small["score"].to_numpy(), big["score"].to_numpy()[:5], rtol=0, atol=0
    )


def test_bool_prefix_distributed_parity(multi):
    """bool_prefix_df (per-field full score vectors from the segment
    tasks, cross-field sum in DataFrame algebra) runs the driver
    bool_prefix's sequence on the Spark executor: same docs, same scores
    bit for bit."""
    s1, s2, _, _ = multi
    m = MultiFieldSearcher([(s1, 10.0), (s2, 5.0)])
    drv = m.bool_prefix("baco co", k=10, fuzzy=True)
    dst = m.bool_prefix_df("baco co", k=10, fuzzy=True).toPandas()
    assert drv["doc_id"].tolist() == dst["doc_id"].tolist()
    np.testing.assert_array_equal(drv["score"].to_numpy(), dst["score"].to_numpy())


def test_deleted_docs_leave_multifield_results(spark, tmp_path):
    """Docs deleted from the field indexes never enter the driver merge's
    heap; the survivors keep their ranks and scores."""
    df = synth_transcripts(spark, n_convs=50, turns_per_conv=4, seed=31)
    dirs = [str(tmp_path / "text"), str(tmp_path / "sugg")]
    build_index(spark, df, dirs[0], n_buckets=8, n_segments=2)
    build_index(spark, df, dirs[1], n_buckets=8, n_segments=2, analyzer="suggest")

    def searcher():
        return MultiFieldSearcher(
            [(IndexSearcher(spark, dirs[0]), 10.0), (IndexSearcher(spark, dirs[1]), 2.0)])

    terms = ["baco", "cora"]
    before = searcher().search(terms, k=1000)
    gone = before["conv_id"].iloc[0]
    for d in dirs:
        assert delete_where(spark, d, F.col("conv_id") == gone) > 0
    after = searcher()
    got = after.search(terms, k=10)
    want = before[before["conv_id"] != gone].head(10)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_array_equal(got["score"].to_numpy(), want["score"].to_numpy())
    assert gone not in set(after.bool_prefix("baco co", k=1000)["conv_id"])


def test_doc_deleted_from_one_field_leaves_both_executors(spark, tmp_path):
    """A doc deleted from one field index only is deleted: neither
    executor's bool_prefix ranks it through the other field, and both
    still return the same docs and scores."""
    df = synth_transcripts(spark, n_convs=50, turns_per_conv=4, seed=31)
    dirs = [str(tmp_path / "text"), str(tmp_path / "sugg")]
    build_index(spark, df, dirs[0], n_buckets=8, n_segments=2)
    build_index(spark, df, dirs[1], n_buckets=8, n_segments=2, analyzer="suggest")

    def searcher():
        return MultiFieldSearcher(
            [(IndexSearcher(spark, dirs[0]), 10.0), (IndexSearcher(spark, dirs[1]), 2.0)])

    gone = searcher().bool_prefix("baco co", k=1)["doc_id"].iloc[0]
    assert delete_where(spark, dirs[1], F.col("doc_id") == gone) == 1
    m = searcher()
    drv = m.bool_prefix("baco co", k=1000)
    dst = m.bool_prefix_df("baco co", k=1000).toPandas()
    assert gone not in set(drv["doc_id"]) and gone not in set(dst["doc_id"])
    assert drv["doc_id"].tolist() == dst["doc_id"].tolist()
    np.testing.assert_array_equal(drv["score"].to_numpy(), dst["score"].to_numpy())


def test_mismatched_corpora_rejected(multi, spark, tmp_path):
    s1, _, _, _ = multi
    other_dir = str(tmp_path / "other")
    build_index(spark, synth_transcripts(spark, 10, 2, seed=1), other_dir, n_buckets=4)
    with pytest.raises(ValueError):
        MultiFieldSearcher([(s1, 1.0), (IndexSearcher(spark, other_dir), 1.0)])
