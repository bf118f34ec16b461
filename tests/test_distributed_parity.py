"""Distributed-path feature parity: every advanced query operator —
synonym expansion (Q5), term boosts, phrase (Q3), suggest/bool_prefix with
fuzziness (Q6), count (Q7) — must be rank-identical (doc ids AND float64
scores) between the driver path and the segment-task distributed path,
and the corpus-size auto-dispatch must be transparent.

This is the round-1 VERDICT's top item: it is what makes the engine's
advanced operators exist at 10^9 docs, not just at sf0.1."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from es_indexer_spark.corpus import assign_doc_ordinals, synth_transcripts, with_doc_ids
from es_indexer_spark.index.build import build_index
from es_indexer_spark.oracle import oracle_from_spark
from es_indexer_spark.query.dsl import DslSearcher
from es_indexer_spark.query.engine import IndexSearcher
from es_indexer_spark.streaming.incremental import upsert_docs

N_CONVS, TURNS, SEED = 100, 8, 11


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx_std"))
    df = synth_transcripts(spark, N_CONVS, TURNS, seed=SEED)
    build_index(spark, df, idx, n_buckets=16, n_segments=5, with_positions=True)
    return IndexSearcher(spark, idx)


@pytest.fixture(scope="module")
def sayt(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx_sayt"))
    df = synth_transcripts(spark, 60, 6, seed=SEED)
    build_index(spark, df, idx, n_buckets=8, n_segments=3, analyzer="suggest")
    return IndexSearcher(spark, idx)


@pytest.fixture(scope="module")
def scan(spark, searcher):
    """The same index read by a searcher whose term dictionary source is
    the pruned term_stats scan (the source above ``driver_max_docs``)."""
    s = IndexSearcher(spark, searcher.index_dir)
    s.driver_max_docs = 0
    yield s
    s.close()


def _assert_same(driver: pd.DataFrame, dist: pd.DataFrame):
    assert driver["doc_id"].tolist() == dist["doc_id"].tolist()
    np.testing.assert_allclose(
        driver["score"].to_numpy(), dist["score"].to_numpy(), rtol=0, atol=1e-12
    )


def test_synonym_expansion_parity(searcher):
    searcher.synonyms.replace(["baco => cora, dala", "quiel => the"])
    try:
        drv = searcher.search(["baco"], k=10, expand_synonyms=True)
        dst = searcher.search_df(["baco"], k=10, expand_synonyms=True).toPandas()
        _assert_same(drv, dst)
        # and synonyms actually changed the result vs the plain query
        plain = searcher.search(["baco"], k=10)
        assert drv["doc_id"].tolist() != plain["doc_id"].tolist()
    finally:
        searcher.synonyms.replace([])


def test_term_boosts_parity(searcher):
    tb = {"baco": 4.0, "cora": 0.25}
    drv = searcher.search(["baco", "cora", "dala"], k=10, term_boosts=tb)
    dst = searcher.search_df(["baco", "cora", "dala"], k=10, term_boosts=tb).toPandas()
    _assert_same(drv, dst)


def test_role_and_term_boosts_parity_blockmax(searcher):
    rb = {"assistant": 2.0}
    tb = {"the": 3.0}
    drv = searcher.search(["the", "baco"], k=10, role_boosts=rb, term_boosts=tb,
                          strategy="blockmax")
    dst = searcher.search_df(["the", "baco"], k=10, role_boosts=rb,
                             term_boosts=tb).toPandas()
    _assert_same(drv, dst)


def test_blockmax_bounds_role_times_tool_boost(spark, tmp_path):
    """A doc's boost is its role boost times its tool boost, so the
    block-max ceiling of every executor must bound the product. Needs
    blocks long enough to be skipped: one segment of 2,000 turns."""
    idx = str(tmp_path / "idx")
    build_index(spark, synth_transcripts(spark, 250, 8, seed=7), idx,
                n_buckets=8, n_segments=1)
    oracle = oracle_from_spark(
        assign_doc_ordinals(with_doc_ids(synth_transcripts(spark, 250, 8, seed=7))))
    s = IndexSearcher(spark, idx)
    rb, tb = {"tool": 20.0}, {"bash": 20.0}
    try:
        for terms in (["baba", "coba"], ["the", "baco"]):
            want = oracle.topk(terms, k=10, role_boosts=rb, tool_boosts=tb)
            for got in (
                s.search(terms, k=10, role_boosts=rb, tool_boosts=tb, strategy="blockmax"),
                s.search_df(terms, k=10, role_boosts=rb, tool_boosts=tb).toPandas(),
            ):
                assert got["doc_id"].tolist() == want["doc_id"].tolist(), terms
                np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)
    finally:
        s.close()


def test_phrase_parity(searcher):
    # a phrase that exists: first two tokens of the first stored doc
    text = searcher.doc_stats_df().orderBy("doc_ord").first()["text"]
    phrase = " ".join(text.split()[:2])
    drv = searcher.phrase_search(phrase, k=50)
    dst = searcher.phrase_search_df(phrase, k=50).toPandas()
    assert len(drv) > 0
    _assert_same(drv, dst)


def test_phrase_absent_parity(searcher):
    assert searcher.phrase_search_df("zzz absent phrase", k=10).count() == 0


def test_empty_phrase_parity(searcher):
    # a phrase with no terms (empty or punctuation only) matches nothing
    for phrase in ("", "?!"):
        drv = searcher.phrase_search(phrase, k=10)
        dst = searcher.phrase_search_df(phrase, k=10).toPandas()
        assert len(drv) == len(dst) == 0


def test_count_parity(searcher):
    for terms, mode in [
        (["the"], "or"),            # stop-word-like: the scale hazard case
        (["baco", "cora"], "or"),
        (["baco", "cora"], "and"),
        (["baco", "zzz_absent"], "and"),
        (["zzz_absent"], "or"),
    ]:
        assert searcher.count(terms, mode=mode) == searcher.count_df(terms, mode=mode)


def test_expansion_parity(searcher, scan):
    assert searcher.expand_prefix("ba") == scan.expand_prefix("ba")
    assert searcher.expand_fuzzy("bacu") == scan.expand_fuzzy("bacu")
    assert searcher.expand_fuzzy("ab") == scan.expand_fuzzy("ab") == []
    # caps that cut inside runs of equal df: ties go in term order on both
    cases = [
        (searcher.expand_prefix, scan.expand_prefix, "b"),
        (lambda t, n: searcher.expand_fuzzy(t, 2, n),
         lambda t, n: scan.expand_fuzzy(t, 2, n), "bacu"),
        (searcher.expand_wildcard, scan.expand_wildcard, "?a*"),
        (searcher.expand_regexp, scan.expand_regexp, "[bc][a-z]*o"),
    ]
    df = dict(zip(*(searcher.term_dictionary()[c] for c in ("term", "df"))))
    for drv, dist, arg in cases:
        full = drv(arg, 1000)
        assert full == dist(arg, 1000)
        cut = next(n for n in range(1, len(full)) if df[full[n - 1]] == df[full[n]])
        assert drv(arg, cut) == dist(arg, cut) == full[:cut]


def test_suggest_parity_standard_index(searcher):
    drv = searcher.suggest("baco cor", k=10, fuzzy=True)
    dst = searcher.suggest_df("baco cor", k=10, fuzzy=True).toPandas()
    _assert_same(drv, dst)


def test_suggest_parity_sayt_index(sayt):
    # suggest-analyzed index: per-tier boosts (10/5/2 by shingle width)
    drv = sayt.suggest("baco", k=10)
    dst = sayt.suggest_df("baco", k=10).toPandas()
    _assert_same(drv, dst)


def test_auto_dispatch_transparent(searcher):
    """Setting the threshold to 0 must route search/count/phrase/suggest
    through the distributed path with identical results."""
    drv_search = searcher.search(["baco", "cora"], k=10)
    drv_count = searcher.count(["the"])
    text = searcher.doc_stats_df().orderBy("doc_ord").first()["text"]
    phrase = " ".join(text.split()[:2])
    drv_phrase = searcher.phrase_search(phrase, k=20)
    drv_sugg = searcher.suggest("baco cor", k=10)
    searcher.driver_max_docs = 0
    try:
        _assert_same(drv_search, searcher.search(["baco", "cora"], k=10))
        assert searcher.count(["the"]) == drv_count
        _assert_same(drv_phrase, searcher.phrase_search(phrase, k=20))
        _assert_same(drv_sugg, searcher.suggest("baco cor", k=10))
    finally:
        searcher.driver_max_docs = 20_000_000


def test_segment_files_are_exact_on_a_multi_segment_build(searcher):
    """The build's hash shuffle writes several of its five segments into
    one tbucket file, so a file's footer ``seg`` range can cover segments
    it does not hold. A segment task is handed exactly the files holding
    its segment, from the segment sets the build checkpoint records."""
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    from es_indexer_spark.query.engine import _seg_range

    gaps = 0
    for b in range(searcher.n_buckets):
        want = {}
        for f in searcher._postings_ds.get_fragments():
            if pads.get_partition_keys(f.partition_expression)["tbucket"] != b:
                continue
            segs = set(pq.read_table(f.path, columns=["seg"])["seg"].to_pylist())
            gaps += set(_seg_range(pq.read_metadata(f.path))) != segs
            for seg in segs:
                want.setdefault(seg, set()).add(f.path)
        assert {s: set(p) for s, p in searcher._bucket_segments(b).items()} == want, b
    assert gaps, "no file's footer range covers a segment it lacks"


def _jobs(sc, gid: str, fn):
    """(fn(), the number of Spark jobs it ran), counted with a job group."""
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def test_open_runs_no_job_and_first_query_persists_nothing(spark, searcher):
    """A searcher open lists files with pyarrow and runs no Spark job; its
    first distributed query persists nothing (the segment tasks read
    their own postings and norms)."""
    sc = spark.sparkContext
    cached = set(sc._jsc.getPersistentRDDs().keySet())
    s, jobs = _jobs(sc, "guard_open", lambda: IndexSearcher(spark, searcher.index_dir))
    assert jobs == 0
    assert len(s.search_df(["baco", "cora"], k=5).collect()) == 5
    assert set(sc._jsc.getPersistentRDDs().keySet()) == cached


def test_one_spark_job_per_distributed_query(spark, searcher):
    """On a warm searcher a distributed top-k, a distributed count and a
    DSL ``match`` through ``search_df`` each run exactly one Spark job:
    one stage of segment tasks, no shuffle."""
    sc = spark.sparkContext
    dsl = DslSearcher(searcher)
    body = {"query": {"match": {"text": "baco cora"}}, "size": 5}
    searcher.search_df(["baco", "cora"], k=5).collect()  # warm
    for name, fn in [
        ("top-k", lambda: searcher.search_df(["baco", "cora"], k=5).collect()),
        ("count", lambda: searcher.count_df(["baco", "cora"])),
        ("dsl match", lambda: dsl.search_df(body).collect()),
    ]:
        _, jobs = _jobs(sc, f"guard_one_job_{name}", fn)
        assert jobs == 1, (name, jobs)


def test_searchers_across_upsert_keep_their_own_snapshot(spark, tmp_path):
    """Two searchers of one index, opened before and after an upsert and
    queried in interleaved order in one session, each return from
    ``search_df`` exactly their own driver ``search``: the executors'
    norms cache never serves one snapshot's segments to the other."""
    from pyspark.sql import functions as F

    idx = str(tmp_path / "idx")
    build_index(spark, synth_transcripts(spark, 40, 4, seed=SEED), idx,
                n_buckets=8, n_segments=2)
    old = IndexSearcher(spark, idx)
    changed = synth_transcripts(spark, 40, 4, seed=SEED + 1).filter(
        F.col("conv_id") < "conv00000010")
    upsert_docs(spark, changed, idx)
    new = IndexSearcher(spark, idx)
    assert new.n_docs != old.n_docs or len(new.tombstones) > len(old.tombstones)
    rb = {"assistant": 2.0}
    for q in (["baco", "cora"], ["the"], ["dala", "quiel"]) * 2:
        for s in (old, new):
            want = s.search(q, k=20, role_boosts=rb)
            got = s.search_df(q, k=20, role_boosts=rb).toPandas()
            assert got["doc_id"].tolist() == want["doc_id"].tolist(), q
            np.testing.assert_array_equal(got["score"], want["score"])
