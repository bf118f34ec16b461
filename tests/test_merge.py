"""Tiered segment merge + expunge-deletes (index/merge.py).

Invariants:
- consolidation never changes any query result (ordinals, scores, counts);
- an expunging merge makes results identical to a fresh build over the
  live corpus (BM25 stats recomputed; rank identity on doc_id + score);
- appends after an expunging merge allocate collision-free ordinals
  (manifest next_ord > n_docs);
- the intent-log commit recovers an interrupted merge to the same final
  state as an uninterrupted one.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from es_indexer_spark.corpus import synth_transcripts
from es_indexer_spark.index.build import build_index
from es_indexer_spark.index.merge import (
    batch_infos,
    force_merge,
    merge_segments,
    recover_merges,
    select_merge_groups,
)
from es_indexer_spark.oracle import oracle_from_spark
from es_indexer_spark.query.engine import IndexSearcher
from es_indexer_spark.streaming.incremental import (
    append_batch,
    delete_docs,
    delete_where,
    upsert_docs,
)


def _corpus(spark, lo, hi, seed=21):
    df = synth_transcripts(spark, n_convs=hi, turns_per_conv=4, seed=seed)
    return df.filter(
        (F.col("conv_id") >= f"conv{lo:08d}") & (F.col("conv_id") < f"conv{hi:08d}")
    )


def _batch_dirs(vdir):
    return sorted(
        d for d in os.listdir(os.path.join(vdir, "doc_stats"))
        if d.startswith("batch=")
    )


QUERIES = (["the"], ["baco", "cora"], ["quiel", "dala"], ["baco"])


def _snapshot(s: IndexSearcher):
    out = {}
    for q in QUERIES:
        r = s.search(q, k=15)
        out[tuple(q)] = list(zip(r["doc_id"], [round(x, 9) for x in r["score"]]))
        rd = s.search_df(q, k=15).orderBy(F.desc("score"), F.asc("doc_id")).collect()
        out[("df",) + tuple(q)] = [
            (row["doc_id"], round(row["score"], 9)) for row in rd
        ]
    out["count_the"] = s.count(["the"])
    return out


@pytest.fixture(scope="module")
def appended_index(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("merge") / "idx")
    build_index(spark, _corpus(spark, 0, 30), idx, n_buckets=8, n_segments=2)
    for lo, hi in ((30, 36), (36, 42), (42, 48), (48, 60)):
        append_batch(spark, _corpus(spark, lo, hi), idx)
    return idx


def test_consolidation_identity(spark, appended_index, tmp_path):
    idx = appended_index
    s0 = IndexSearcher(spark, idx)
    before = _snapshot(s0)
    n_before = len(_batch_dirs(s0.vdir))
    assert n_before == 5  # base + 4 appends

    res = merge_segments(spark, idx, merge_factor=10, min_inputs=2)
    assert res["batches_merged"] >= 2 and res["docs_expunged"] == 0

    s1 = IndexSearcher(spark, idx)
    assert len(_batch_dirs(s1.vdir)) < n_before
    assert s1.n_docs == s0.n_docs and s1.avgdl == pytest.approx(s0.avgdl)
    assert _snapshot(s1) == before
    s0.close(); s1.close()


def test_partial_merge_leaving_newer_batch_ranks_like_oracle(spark, tmp_path):
    """Merging two older appends while the newest stays unmerged labels
    the merged segment AFTER the newer batch, though it holds the lower
    ordinals: the driver path must order chunks by doc range, not by
    segment label."""
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 30), idx, n_buckets=8, n_segments=2)
    for lo, hi in ((30, 40), (40, 50), (50, 60)):
        append_batch(spark, _corpus(spark, lo, hi), idx)
    res = merge_segments(spark, idx, bids=[1, 2])
    assert res["batches_merged"] == 2

    s = IndexSearcher(spark, idx)
    oracle = oracle_from_spark(s.doc_stats_df())
    for q in QUERIES:
        for mode in ("or", "and"):
            want = oracle.topk(q, k=15, mode=mode)
            for strategy in ("blockmax", "exhaustive"):
                got = s.search(q, k=15, mode=mode, strategy=strategy)
                assert got["doc_id"].tolist() == want["doc_id"].tolist(), (q, mode, strategy)
                np.testing.assert_allclose(
                    got["score"], want["score"], rtol=0, atol=1e-9
                )
    s.close()


def test_resident_and_scanned_postings_agree(spark, tmp_path):
    """The driver's two posting sources — whole term buckets kept
    resident, and the per-term cache filled by term-filtered scans — give
    equal chunks and bit-identical results at a posting budget of
    everything, nothing and about half, on a lifecycle layout: build,
    append, delete, then a merge that leaves a newer batch unmerged."""
    from es_indexer_spark.index.build import term_bucket
    from es_indexer_spark.query.scoring import TermChunks

    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 30), idx, n_buckets=32, n_segments=2,
                with_positions=True)
    for lo, hi in ((30, 40), (40, 50), (50, 60)):
        append_batch(spark, _corpus(spark, lo, hi), idx)
    assert delete_docs(spark, idx, ["conv00000003:1", "conv00000044:2"]) == 2
    assert merge_segments(spark, idx, bids=[1, 2])["batches_merged"] == 2

    full, none, half = (IndexSearcher(spark, idx) for _ in range(3))
    try:
        n = full.n_buckets
        full._fragments(list(range(n)))
        total = sum(full._bucket_bytes.values())
        full._RESIDENT_POSTINGS_BYTES = 1 << 62
        none._RESIDENT_POSTINGS_BYTES = 0
        half._RESIDENT_POSTINGS_BYTES = total // 2

        vocab = full.term_dictionary()["term"].tolist()
        absent = "zzz_absent"
        n_segs = max(len(f) for f in full._bucket_frags.values())
        sparse = min(b for b, f in full._bucket_frags.items() if len(f) < n_segs)
        buckets = {term_bucket("the", n), term_bucket(absent, n), sparse}
        assert len(buckets) == 3
        terms = [t for t in vocab if term_bucket(t, n) in buckets] + [absent]
        got = [s._postings_map(terms) for s in (full, none, half)]
        assert len(got[0]["the"]) > 1 and len(got[0][absent]) == 0
        for t in terms:
            for field in TermChunks.__slots__:
                want = getattr(got[0][t], field)
                for g in got[1:]:
                    assert np.array_equal(getattr(g[t], field), want), (t, field)

        rb = {"assistant": 2.0, "system": 0.5}
        for q in (*QUERIES, ["cora", "dala", "the"], vocab[::37]):
            for mode in ("or", "and"):
                for strategy in ("exhaustive", "blockmax"):
                    for boosts in (None, rb):
                        res = [s.search(q, k=15, mode=mode, strategy=strategy,
                                        role_boosts=boosts) for s in (full, none, half)]
                        for r in res[1:]:
                            assert r["doc_id"].tolist() == res[0]["doc_id"].tolist()
                            np.testing.assert_array_equal(r["score"], res[0]["score"])
        assert full._resident and not full._chunk_cache
        assert none._resident_bytes == 0 and none._chunk_cache
        assert half._resident and half._chunk_cache
        assert 0 < half._resident_bytes <= total // 2
    finally:
        for s in (full, none, half):
            s.close()
    assert not full._resident and full._resident_bytes == 0


def test_tiered_policy_groups_consecutive_same_tier():
    infos = [
        {"bid": 0, "rows": 5000, "min_ord": 0, "max_ord": 4999},
        {"bid": 1, "rows": 40, "min_ord": 5000, "max_ord": 5039},
        {"bid": 2, "rows": 55, "min_ord": 5040, "max_ord": 5094},
        {"bid": 3, "rows": 30, "min_ord": 5095, "max_ord": 5124},
        {"bid": 4, "rows": 7000, "min_ord": 5125, "max_ord": 12124},
        {"bid": 5, "rows": 25, "min_ord": 12125, "max_ord": 12149},
    ]
    groups = select_merge_groups(infos, merge_factor=10, min_inputs=2)
    # the three consecutive tier-1 (10..99 rows) batches merge; the lone
    # trailing small batch has no same-tier neighbour; big ones untouched
    assert [[i["bid"] for i in g] for g in groups] == [[1, 2, 3]]
    # cap splits an oversized group
    capped = select_merge_groups(infos, merge_factor=10, min_inputs=2,
                                 max_merged_docs=100)
    assert [[i["bid"] for i in g] for g in capped] == [[1, 2]]


def test_expunge_matches_fresh_build(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 30), idx, n_buckets=8, n_segments=2)
    append_batch(spark, _corpus(spark, 30, 40), idx)
    append_batch(spark, _corpus(spark, 40, 50), idx)

    # tombstone every 7th conversation's turns, across all batches
    s = IndexSearcher(spark, idx)
    victims = [
        r["doc_id"]
        for r in s.doc_stats_df()
        .filter(F.col("conv_id").substr(5, 8).cast("long") % 7 == 0)
        .select("doc_id").collect()
    ]
    s.close()
    assert victims
    delete_docs(spark, idx, victims)

    out = force_merge(spark, idx, max_segments=1, expunge=True)
    assert out["docs_expunged"] == len(victims)

    sm = IndexSearcher(spark, idx)
    assert len(sm.tombstones) == 0
    assert len(_batch_dirs(sm.vdir)) == 1
    # ordinal space keeps holes; live rows shrink
    assert sm.ord_span > sm.n_docs

    idx_fresh = str(tmp_path / "fresh")
    live = _corpus(spark, 0, 50).filter(
        F.col("conv_id").substr(5, 8).cast("long") % 7 != 0
    )
    build_index(spark, live, idx_fresh, n_buckets=8, n_segments=2)
    sf = IndexSearcher(spark, idx_fresh)

    assert sm.n_docs == sf.n_docs and sm.avgdl == pytest.approx(sf.avgdl)
    for q in QUERIES:
        rm, rf = sm.search(q, k=20), sf.search(q, k=20)
        assert rm["doc_id"].tolist() == rf["doc_id"].tolist(), q
        np.testing.assert_allclose(rm["score"], rf["score"], rtol=0, atol=1e-9)
        dm = sm.search_df(q, k=20).orderBy(F.desc("score"), F.asc("doc_id")).collect()
        dfq = sf.search_df(q, k=20).orderBy(F.desc("score"), F.asc("doc_id")).collect()
        assert [r["doc_id"] for r in dm] == [r["doc_id"] for r in dfq], q
        np.testing.assert_allclose(
            [r["score"] for r in dm], [r["score"] for r in dfq], rtol=0, atol=1e-9
        )
        assert sm.count(q) == sf.count(q)
    sm.close(); sf.close()


def test_expunge_with_positions_phrase_survives(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 20), idx, n_buckets=8, n_segments=2,
                with_positions=True)
    append_batch(spark, _corpus(spark, 20, 30), idx)
    s = IndexSearcher(spark, idx)
    victims = [
        r["doc_id"] for r in s.doc_stats_df()
        .filter(F.col("turn_idx") == 2).select("doc_id").limit(40).collect()
    ]
    s.close()
    delete_docs(spark, idx, victims)
    force_merge(spark, idx, max_segments=1, expunge=True)

    live = _corpus(spark, 0, 30)
    idx_fresh = str(tmp_path / "fresh")
    build_index(spark, live, idx_fresh, n_buckets=8, n_segments=2,
                with_positions=True)
    sm, sf = IndexSearcher(spark, idx), IndexSearcher(spark, idx_fresh)
    # find a phrase that actually occurs
    row = sf.doc_stats_df().select("text").first()
    words = [w for w in row["text"].lower().split() if w.isalpha()]
    phrase = words[:2]
    hm = sm.phrase_search(phrase, k=50)
    hf = sf.phrase_search(phrase, k=50)
    hf_ids = [d for d in hf["doc_id"] if d not in set(victims)]
    assert list(hm["doc_id"]) == hf_ids
    sm.close(); sf.close()


def test_append_after_expunge_allocates_fresh_ordinals(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 20), idx, n_buckets=8, n_segments=2)
    append_batch(spark, _corpus(spark, 20, 30), idx)
    s = IndexSearcher(spark, idx)
    victims = [r["doc_id"] for r in s.doc_stats_df()
               .filter(F.col("turn_idx") == 0).select("doc_id").collect()]
    s.close()
    delete_docs(spark, idx, victims)
    force_merge(spark, idx, max_segments=1, expunge=True)

    pre = IndexSearcher(spark, idx)
    span_before, live_before = pre.ord_span, pre.n_docs
    assert span_before > live_before
    pre.close()

    append_batch(spark, _corpus(spark, 30, 40), idx)
    s2 = IndexSearcher(spark, idx)
    # the append continued from the SPAN, not the live count — no overlap
    ds = s2.doc_stats_df().select("doc_ord").collect()
    ords = sorted(r["doc_ord"] for r in ds)
    n_new = 10 * 4  # convs 30..39, 4 turns each
    assert len(ords) == len(set(ords)) == live_before + n_new
    assert max(ords) == span_before + n_new - 1

    # and results equal a fresh build over the union live corpus
    live = (
        _corpus(spark, 0, 40)
        .filter(~((F.col("turn_idx") == 0) & (F.col("conv_id") < "conv00000030")))
    )
    idx_fresh = str(tmp_path / "fresh")
    build_index(spark, live, idx_fresh, n_buckets=8, n_segments=2)
    sf = IndexSearcher(spark, idx_fresh)
    assert s2.n_docs == sf.n_docs
    for q in (["the"], ["baco"]):
        rm, rf = s2.search(q, k=15), sf.search(q, k=15)
        assert rm["doc_id"].tolist() == rf["doc_id"].tolist()
        np.testing.assert_allclose(rm["score"], rf["score"], rtol=0, atol=1e-9)
    s2.close(); sf.close()


def test_dsl_on_expunged_index(spark, tmp_path):
    """Driver-path live mask: match_all, metadata predicates and aggs must
    exclude expunged holes."""
    from es_indexer_spark.query.dsl import DslSearcher

    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 20), idx, n_buckets=8, n_segments=2)
    append_batch(spark, _corpus(spark, 20, 30), idx)
    s = IndexSearcher(spark, idx)
    victims = [r["doc_id"] for r in s.doc_stats_df()
               .filter(F.col("turn_idx") == 1).select("doc_id").collect()]
    s.close()
    delete_docs(spark, idx, victims)
    force_merge(spark, idx, max_segments=1, expunge=True)

    s = IndexSearcher(spark, idx)
    d = DslSearcher(s)
    hits = d.search({"match_all": {}}, k=10_000)
    assert len(hits) == s.n_docs
    assert not (set(hits["doc_id"]) & set(victims))
    # range over a field cached via _meta_array path (exists + term)
    r = d.search({"bool": {"filter": [{"range": {"turn_idx": {"lte": 3}}}]}},
                 k=10_000)
    assert len(r) == s.n_docs  # turn 1 docs are gone; the rest all match
    agg = d.aggregate({"aggs": {"t": {"terms": {"field": "turn_idx", "size": 10}}}})
    keys = {b["key"] for b in agg["aggregations"]["t"]["buckets"]}
    assert 1 not in keys
    assert agg["hits"]["total"]["value"] == s.n_docs
    s.close()


def test_interrupted_merge_recovers_to_identical_state(spark, tmp_path, monkeypatch):
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 20), idx, n_buckets=8, n_segments=2)
    append_batch(spark, _corpus(spark, 20, 26), idx)
    append_batch(spark, _corpus(spark, 26, 32), idx)
    s0 = IndexSearcher(spark, idx)
    before = _snapshot(s0)
    vdir = s0.vdir
    s0.close()

    # crash immediately after the durable intent (before install)
    import es_indexer_spark.index.merge as M

    real_install = M._install_and_clean

    def boom(vdir_, intent):
        raise RuntimeError("simulated crash after staging")

    monkeypatch.setattr(M, "_install_and_clean", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_segments(spark, idx, min_inputs=2)
    monkeypatch.setattr(M, "_install_and_clean", real_install)

    # victims still in place, nothing installed
    assert len(_batch_dirs(vdir)) == 3
    staged = os.path.join(vdir, "merge_staging")
    assert os.path.isdir(staged) and os.listdir(staged)

    n = recover_merges(spark, idx)
    assert n == 1
    s1 = IndexSearcher(spark, idx)
    assert len(_batch_dirs(s1.vdir)) < 3
    assert _snapshot(s1) == before
    assert not os.path.isdir(os.path.join(vdir, "merge_staging"))
    s1.close()


def test_unstaged_intentless_garbage_is_discarded(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 12), idx, n_buckets=8, n_segments=1)
    append_batch(spark, _corpus(spark, 12, 16), idx)
    vdir = IndexSearcher(spark, idx).vdir
    orphan = os.path.join(vdir, "merge_staging", "99")
    os.makedirs(orphan)
    open(os.path.join(orphan, "junk"), "w").write("x")
    recover_merges(spark, idx)
    assert not os.path.isdir(os.path.join(vdir, "merge_staging"))


def test_merge_of_epoch_batches_then_stream_continues(spark, tmp_path):
    """Merging a stream's micro-batch segments must not break the stream:
    epoch ids keep their own space (merge allocates manual bids), replay
    guards survive (checkpoints outlive the merged-away dirs), and later
    epochs append on top of the merged segment."""
    from es_indexer_spark.streaming.incremental import incremental_index

    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 20), idx, n_buckets=8, n_segments=2)
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    _corpus(spark, 20, 26).coalesce(1).write.parquet(os.path.join(src, "drop1"))
    _corpus(spark, 26, 32).coalesce(1).write.parquet(os.path.join(src, "drop2"))
    stream = (
        spark.readStream.schema(_corpus(spark, 0, 1).schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    ckpt = str(tmp_path / "ckpt")
    incremental_index(stream, idx, ckpt).awaitTermination(120)
    vdir = IndexSearcher(spark, idx).vdir
    assert len(_batch_dirs(vdir)) >= 3  # base + >=2 epoch batches

    res = merge_segments(spark, idx, min_inputs=2)
    assert res["batches_merged"] >= 2

    # stream more data through the SAME checkpoint
    _corpus(spark, 32, 38).coalesce(1).write.parquet(os.path.join(src, "drop3"))
    stream2 = (
        spark.readStream.schema(_corpus(spark, 0, 1).schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    incremental_index(stream2, idx, ckpt).awaitTermination(120)

    s = IndexSearcher(spark, idx)
    assert s.n_docs == 38 * 4
    got = s.search(["baco"], k=1000)
    assert (got["conv_id"] >= "conv00000032").any()
    s.close()


def test_single_batch_expunge_rewrite(spark, tmp_path):
    """force_merge on a single-batch index with tombstones rewrites that
    batch in place (expunge without consolidation)."""
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 20), idx, n_buckets=8, n_segments=2)
    s = IndexSearcher(spark, idx)
    victims = [r["doc_id"] for r in s.doc_stats_df()
               .filter(F.col("turn_idx") == 3).select("doc_id").collect()]
    s.close()
    delete_docs(spark, idx, victims)
    out = force_merge(spark, idx, max_segments=1, expunge=True)
    assert out["docs_expunged"] == len(victims) > 0
    s = IndexSearcher(spark, idx)
    assert len(s.tombstones) == 0
    assert s.n_docs == 20 * 4 - len(victims)
    got = s.search(["the"], k=200)
    assert not (set(got["doc_id"]) & set(victims))
    s.close()


def test_incremental_index_auto_merge(spark, tmp_path):
    """merge_every=N folds micro-batch segments inside the stream sink —
    a long-running stream keeps a bounded segment count, with the same
    corpus and query results."""
    from es_indexer_spark.streaming.incremental import incremental_index

    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 12), idx, n_buckets=8, n_segments=1)
    srcdir = str(tmp_path / "incoming")
    os.makedirs(srcdir)
    for i, (lo, hi) in enumerate(((12, 16), (16, 20), (20, 24), (24, 28),
                                  (28, 32), (32, 36))):
        _corpus(spark, lo, hi).coalesce(1).write.parquet(
            os.path.join(srcdir, f"drop{i}"))
    stream = (
        spark.readStream.schema(_corpus(spark, 0, 1).schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcdir)
    )
    incremental_index(stream, idx, str(tmp_path / "ckpt"),
                      merge_every=3).awaitTermination(180)
    s = IndexSearcher(spark, idx)
    assert s.n_docs == 36 * 4
    # 6 epochs with merge_every=3: far fewer than 7 batch dirs remain
    assert len(_batch_dirs(s.vdir)) <= 4
    got = s.search(["baco"], k=1000)
    assert (got["conv_id"] >= "conv00000032").any()
    s.close()


def test_crash_mid_install_recovers(spark, tmp_path, monkeypatch):
    """Crash BETWEEN the two install renames (doc_stats installed,
    postings still staged): recovery must finish the install, not discard
    or double-apply."""
    import es_indexer_spark.index.merge as M

    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 16), idx, n_buckets=8, n_segments=1)
    append_batch(spark, _corpus(spark, 16, 20), idx)
    append_batch(spark, _corpus(spark, 20, 24), idx)
    s0 = IndexSearcher(spark, idx)
    before = _snapshot(s0)
    vdir = s0.vdir
    s0.close()

    calls = {"n": 0}
    real_replace = os.replace

    def flaky_replace(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash between installs")
        return real_replace(src, dst)

    monkeypatch.setattr(M.os, "replace", flaky_replace)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_segments(spark, idx, min_inputs=2)
    monkeypatch.setattr(M.os, "replace", real_replace)

    n = recover_merges(spark, idx)
    assert n == 1
    s1 = IndexSearcher(spark, idx)
    assert len(_batch_dirs(s1.vdir)) < 3
    assert _snapshot(s1) == before
    s1.close()


def test_append_recovers_interrupted_merge(spark, tmp_path, monkeypatch):
    """A restarted pipeline's first append finishes a merge that crashed
    after staging — no explicit recover_merges call needed."""
    import es_indexer_spark.index.merge as M

    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 16), idx, n_buckets=8, n_segments=1)
    append_batch(spark, _corpus(spark, 16, 20), idx)
    append_batch(spark, _corpus(spark, 20, 24), idx)
    vdir = IndexSearcher(spark, idx).vdir

    monkeypatch.setattr(M, "_install_and_clean",
                        lambda *a: (_ for _ in ()).throw(RuntimeError("boom")))
    with pytest.raises(RuntimeError, match="boom"):
        merge_segments(spark, idx, min_inputs=2)
    monkeypatch.undo()
    assert len(_batch_dirs(vdir)) == 3  # crash left victims in place

    append_batch(spark, _corpus(spark, 24, 28), idx)  # recovery hook fires
    s = IndexSearcher(spark, idx)
    assert s.n_docs == 28 * 4
    # merged batch installed AND the new append landed
    assert len(_batch_dirs(s.vdir)) < 4
    got = s.search(["baco"], k=1000)
    assert (got["conv_id"] >= "conv00000024").any()
    s.close()


def _edit_distance(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _text_dictionary(vdir) -> dict:
    """{term: (df, total_tf)} counted over the text of every doc_stats row
    with the index analyzer: doc_stats holds exactly the docs the
    postings hold, tombstoned-but-unexpunged ones included."""
    from collections import Counter

    import pyarrow.dataset as pads

    from es_indexer_spark.analysis import tokenize_series

    texts = pads.dataset(os.path.join(vdir, "doc_stats"), partitioning="hive").to_table(
        columns=["text"]).to_pandas()["text"]
    df, tf = Counter(), Counter()
    for toks in tokenize_series(texts):
        c = Counter(toks)
        df.update(c.keys())
        tf.update(c)
    return {t: (df[t], tf[t]) for t in df}


def _interrupted_merge(spark, idx, monkeypatch):
    """An append and a delete, then a merge of every batch that crashes
    after staging, finished by ``recover_merges``."""
    import es_indexer_spark.index.merge as M

    append_batch(spark, _corpus(spark, 16, 20), idx)
    delete_where(spark, idx, F.col("conv_id").isin("conv00000006", "conv00000017"))
    vdir = IndexSearcher(spark, idx).vdir
    with monkeypatch.context() as m:
        m.setattr(M, "_install_and_clean",
                  lambda *a: (_ for _ in ()).throw(RuntimeError("boom")))
        with pytest.raises(RuntimeError, match="boom"):
            merge_segments(spark, idx, bids=[i["bid"] for i in batch_infos(vdir)])
    assert recover_merges(spark, idx) == 1


def test_dictionary_read_same_on_every_lifecycle_step(spark, tmp_path, monkeypatch):
    """After each write — build, append, delete, expunging merge, upsert,
    force merge, a merge finished by crash recovery — the summed
    dictionary equals a count over the indexed text; both term-dictionary
    sources (the resident arrays, and the pruned term_stats scan a
    searcher above ``driver_max_docs`` reads) give the prefix, fuzzy and
    wildcard expansions and the global dfs of a brute-force filter over
    ``term_dictionary()``; and the distributed search and count, which
    take their dfs from the dictionary, equal the driver's, which take
    them from the posting chunks, bit for bit, with and without role and
    tool boosts."""
    idx = str(tmp_path / "idx")
    steps = [
        lambda: build_index(spark, _corpus(spark, 0, 12), idx, n_buckets=8, n_segments=2),
        lambda: append_batch(spark, _corpus(spark, 12, 16), idx),
        lambda: delete_where(spark, idx, F.col("conv_id") < "conv00000004"),
        lambda: merge_segments(spark, idx, min_inputs=2),
        lambda: upsert_docs(spark, _corpus(spark, 8, 10, seed=5).filter(
            F.col("turn_idx") < 2), idx),
        lambda: force_merge(spark, idx, max_segments=1),
        lambda: _interrupted_merge(spark, idx, monkeypatch),
    ]
    cases = [  # (method, args, the predicate it expands, max_expansions)
        ("expand_prefix", ("b", 7), lambda t: t.startswith("b"), 7),
        ("expand_prefix", ("ba", 1000), lambda t: t.startswith("ba"), 1000),
        ("expand_fuzzy", ("bacu", 1, 1000), lambda t: _edit_distance("bacu", t) <= 1, 1000),
        ("expand_fuzzy", ("bacuz", 2, 9), lambda t: _edit_distance("bacuz", t) <= 2, 9),
        ("expand_wildcard", ("?a*o", 1000), lambda t: re.fullmatch(".a.*o", t), 1000),
    ]
    dfs_seen = []
    for step in steps:
        step()
        resident = IndexSearcher(spark, idx)
        scan = IndexSearcher(spark, idx)
        scan.driver_max_docs = 0
        td = resident.term_dictionary()
        assert dict(zip(td["term"], zip(td["df"].tolist(), td["total_tf"].tolist()))) \
            == _text_dictionary(resident.vdir)
        df = dict(zip(td["term"], td["df"].astype(int)))
        for name, args, pred, n in cases:
            want = [t for _, t in sorted((-d, t) for t, d in df.items() if pred(t))][:n]
            assert want, name
            assert getattr(resident, name)(*args) == want, (name, args)
            assert getattr(scan, name)(*args) == want, (name, args)
        vocab = td["term"].tolist()
        terms = [vocab[0], vocab[len(vocab) // 2], vocab[-1], "the", "zz_absent"]
        want = {t: df.get(t, 0) for t in terms}
        assert resident._global_dfs(terms) == scan._global_dfs(terms) == want
        dfs_seen.append(want["the"])
        boosts = {"role_boosts": {"assistant": 2.0}, "tool_boosts": {"bash": 3.0}}
        for q, kw in [*((q, {}) for q in QUERIES[:3]), (QUERIES[1], boosts)]:
            drv = resident.search(q, k=20, **kw)
            dist = resident.search_df(q, k=20, **kw).toPandas()
            assert drv["doc_id"].tolist() == dist["doc_id"].tolist(), q
            np.testing.assert_array_equal(drv["score"], dist["score"])
            assert resident.count(q) == resident.count_df(q), q
        resident.close()
    # the writes changed the statistics the reads were checked on
    assert dfs_seen[1] > dfs_seen[0] and dfs_seen[3] < dfs_seen[2]


def test_crash_inside_tombstone_rewrite_keeps_other_tombstones(spark, tmp_path, monkeypatch):
    """A merge that crashes inside its tombstone rewrite, after the
    rewrite's first file operation, must not resurrect deleted docs:
    ``recover_merges`` finishes the merge, and every tombstone outside
    the merged range survives."""
    import shutil

    import es_indexer_spark.index.merge as M
    from es_indexer_spark.index import catalog
    from es_indexer_spark.streaming.incremental import load_tombstones

    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 60), idx, n_buckets=8, n_segments=2)
    append_batch(spark, _corpus(spark, 60, 66), idx)
    append_batch(spark, _corpus(spark, 66, 72), idx)
    delete_where(spark, idx, F.col("conv_id").isin("conv00000003", "conv00000062"))
    vdir = catalog.current_version_dir(idx)
    before = load_tombstones(vdir)
    assert before.tolist() == [12, 13, 14, 15, 248, 249, 250, 251]

    # let the rewrite's first file operation through, fail the next one
    state = {"on": False, "ops": 0}

    def counted(fn):
        def op(*a, **kw):
            if state["on"]:
                state["ops"] += 1
                if state["ops"] == 2:
                    raise RuntimeError("simulated crash inside the tombstone rewrite")
            return fn(*a, **kw)
        return op

    for mod, name in ((shutil, "rmtree"), (os, "replace"), (os, "remove"),
                      (catalog, "write_json")):
        monkeypatch.setattr(mod, name, counted(getattr(mod, name)))
    rewrite = M._rewrite_tombstones

    def tracked(*a):
        state["on"] = True
        try:
            return rewrite(*a)
        finally:
            state["on"] = False

    monkeypatch.setattr(M, "_rewrite_tombstones", tracked)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_segments(spark, idx, min_inputs=2)  # folds the two appends
    monkeypatch.undo()

    assert recover_merges(spark, idx) == 1
    assert load_tombstones(vdir).tolist() == [12, 13, 14, 15]
    s = IndexSearcher(spark, idx)
    assert len(_batch_dirs(s.vdir)) == 2
    got = s.search(["the", "baco", "cora"], k=10_000)
    assert not got["conv_id"].isin(["conv00000003", "conv00000062"]).any()
    s.close()
