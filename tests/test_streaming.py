"""Incremental indexing: streaming append, upsert, delete (tombstones).

Invariant under append: BM25 is a corpus-global function (idf uses N and
df, norms use avgdl), so an index that grew by appends must score
IDENTICALLY to a from-scratch build over the union corpus."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from es_indexer_spark.corpus import synth_transcripts, with_doc_ids
from es_indexer_spark.index.build import build_index
from es_indexer_spark.query.engine import IndexSearcher
from es_indexer_spark.streaming.incremental import (
    append_batch,
    delete_docs,
    incremental_index,
    upsert_docs,
)


def _corpus(spark, lo, hi, seed=21):
    df = synth_transcripts(spark, n_convs=hi, turns_per_conv=4, seed=seed)
    return df.filter(
        (F.col("conv_id") >= f"conv{lo:08d}") & (F.col("conv_id") < f"conv{hi:08d}")
    )


def test_append_matches_full_rebuild(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 40), idx, n_buckets=8, n_segments=2)
    out = append_batch(spark, _corpus(spark, 40, 60), idx)
    assert out["appended"] == 20 * 4 and out["n_docs"] == 60 * 4

    idx_full = str(tmp_path / "idx_full")
    build_index(spark, _corpus(spark, 0, 60), idx_full, n_buckets=8, n_segments=2)

    a = IndexSearcher(spark, idx)
    b = IndexSearcher(spark, idx_full)
    assert a.n_docs == b.n_docs and a.avgdl == pytest.approx(b.avgdl)
    for q in (["the"], ["baco", "cora"], ["quiel", "dala"]):
        ra = a.search(q, k=15)
        rb = b.search(q, k=15)
        assert ra["doc_id"].tolist() == rb["doc_id"].tolist(), q
        assert ra["score"].tolist() == rb["score"].tolist(), q


def test_append_is_idempotent_per_epoch(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 30), idx, n_buckets=8, n_segments=2)
    r1 = append_batch(spark, _corpus(spark, 30, 40), idx, epoch_id=1)
    # replay of the same epoch overwrites the same batch dir: doc count
    # grows because ordinals re-assign, so verify directory identity instead
    vdir = IndexSearcher(spark, idx).vdir
    batch_dir = os.path.join(vdir, "postings", f"batch={10_000 + 1}")
    assert os.path.isdir(batch_dir)
    assert r1["appended"] == 40


def test_streaming_incremental_index(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 30), idx, n_buckets=8, n_segments=2)

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    _corpus(spark, 30, 45).write.mode("overwrite").parquet(os.path.join(src, "drop1"))

    stream = (
        spark.readStream.schema(_corpus(spark, 0, 1).schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = incremental_index(stream, idx, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    s = IndexSearcher(spark, idx)
    assert s.n_docs == 45 * 4
    # the streamed docs are searchable
    assert s.count(["the"]) > 0
    got = s.search(["baco"], k=1000)
    assert (got["conv_id"] >= "conv00000030").any()


def test_delete_and_upsert_tombstones(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 30), idx, n_buckets=8, n_segments=2)
    s = IndexSearcher(spark, idx)
    hit = s.search(["the"], k=1)
    victim = hit["doc_id"].iloc[0]

    n = delete_docs(spark, idx, [victim])
    assert n == 1
    s2 = IndexSearcher(spark, idx)  # reload tombstones
    assert victim not in s2.search(["the"], k=1000)["doc_id"].tolist()
    assert s2.count(["the"]) == s.count(["the"]) - 1

    # upsert: replace the victim turn's text, becomes findable again
    row = with_doc_ids(_corpus(spark, 0, 30)).filter(F.col("doc_id") == victim)
    newdoc = row.withColumn("text", F.lit("zzreplaced zzreplaced token")).drop("doc_id")
    out = upsert_docs(spark, newdoc, idx)
    assert out["appended"] == 1
    s3 = IndexSearcher(spark, idx)
    found = s3.search(["zzreplaced"], k=10)
    assert len(found) == 1 and found["doc_id"].iloc[0] == victim
    # the OLD version of the turn stays masked
    assert victim not in s3.search(["the"], k=1000)["doc_id"].tolist()


def test_rebuild_compacted_blue_green(spark, tmp_path):
    """Tombstone compaction: delete+upsert churn → rebuild_compacted →
    identical query results to a from-scratch build over the live corpus,
    zero tombstones (scan_after stops filtering), previous version kept on
    disk for rollback — the reference's blue/green reindex-all
    (ElasticSearchIndexService.java:108-165)."""
    from es_indexer_spark.streaming.incremental import rebuild_compacted

    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 40), idx, n_buckets=8)
    # churn: drop two conversations, rewrite one
    del_ids = [f"conv{i:08d}:{t}" for i in (1, 2) for t in range(4)]
    assert delete_docs(spark, idx, del_ids) == 8
    upsert_df = _corpus(spark, 5, 6).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzcompacted"))
    )
    upsert_docs(spark, upsert_df, idx)

    s_before = IndexSearcher(spark, idx)
    assert len(s_before.tombstones) == 8 + 4
    vdir_before = s_before.vdir
    queries = (["the"], ["baco", "cora"], ["zzcompacted"])
    sets_before = {
        tuple(q): set(s_before.search(q, k=1000)["doc_id"]) for q in queries
    }
    n_live = s_before.n_docs - len(s_before.tombstones)

    out = rebuild_compacted(spark, idx)
    assert out["tombstones_compacted"] == 12
    assert out["previous_version_dir"] == vdir_before
    assert os.path.isdir(vdir_before)  # blue kept for rollback

    s_after = IndexSearcher(spark, idx)
    assert s_after.vdir != vdir_before
    assert len(s_after.tombstones) == 0  # scan_after no longer filters isin
    assert s_after.n_docs == n_live
    assert s_after.scan_after(page_size=10_000).count() == n_live
    # same hit sets as the tombstoned index (scores legitimately change:
    # N/avgdl/df now exclude dead docs, exactly like a Lucene segment merge)
    for q in queries:
        assert set(s_after.search(q, k=1000)["doc_id"]) == sets_before[tuple(q)], q
    # ...and EXACT score identity with a from-scratch build over the
    # logically-live corpus (the compaction semantics, end to end)
    live_src = (
        _corpus(spark, 0, 40)
        .filter(~F.col("conv_id").isin("conv00000001", "conv00000002", "conv00000005"))
        .unionByName(upsert_df)
    )
    idx_ref = str(tmp_path / "idx_ref")
    build_index(spark, live_src, idx_ref, n_buckets=8)
    ref = IndexSearcher(spark, idx_ref)
    for q in queries:
        ra, rb = s_after.search(q, k=50), ref.search(q, k=50)
        assert ra["doc_id"].tolist() == rb["doc_id"].tolist(), q
        assert ra["score"].tolist() == rb["score"].tolist(), q
    # deleted docs gone from point lookups; upserted text is the live one
    assert len(s_after.get("conv00000001:0")) == 0
    assert "zzcompacted" in s_after.get("conv00000005:0")["text"].iloc[0]


def test_firehose_dedup_to_incremental_index_end_to_end(spark, tmp_path):
    """The full production front gate in one pipeline: a replayed/dup-
    laden transcript firehose → streaming_dedup (full-row passthrough) →
    per-epoch append_batch → queries over the updated index. Duplicates
    must never reach the index, across micro-batches included."""
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 20), idx, n_buckets=8, n_segments=2)
    n0 = IndexSearcher(spark, idx).n_docs

    # two drops: drop2 replays half of drop1's conversations verbatim
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    fresh = _corpus(spark, 20, 30)
    fresh.write.mode("overwrite").parquet(os.path.join(src, "drop1"))
    replay = _corpus(spark, 25, 35)  # convs 25-29 are exact replays
    replay.write.mode("overwrite").parquet(os.path.join(src, "drop2"))

    stream = (
        spark.readStream.schema(_corpus(spark, 0, 1).schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    # the first-class API: incremental_index(dedup=8) fronts the stream
    # with the stateful fingerprint gate before the per-epoch append
    q = incremental_index(stream, idx, str(tmp_path / "ckpt"), dedup=8)
    q.awaitTermination(180)

    s = IndexSearcher(spark, idx)
    # convs 20-34 arrived once each despite the replay of 25-29
    assert s.n_docs == n0 + 15 * 4
    ds = s.doc_stats_df().toPandas()
    assert not ds.duplicated(["conv_id", "turn_idx"]).any()
    got = s.search(["baco"], k=2000)
    assert (got["conv_id"] >= "conv00000030").any()  # streamed docs searchable


def test_time_travel_and_rollback_after_compaction(spark, tmp_path):
    """Blue/green operations: after a compacting rebuild, the previous
    version stays openable (time travel) and re-publishable (instant
    rollback) — the reference's alias-swap story
    (ElasticSearchIndexService.java:150-165) made concrete."""
    from es_indexer_spark.index import catalog
    from es_indexer_spark.streaming.incremental import rebuild_compacted

    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 20), idx, n_buckets=8, n_segments=2)
    delete_docs(spark, idx, ["conv00000003:1", "conv00000004:2"])
    pre = IndexSearcher(spark, idx)
    n_pre_live = pre.manifest["n_docs"] - len(pre.tombstones)

    res = rebuild_compacted(spark, idx)
    post = IndexSearcher(spark, idx)
    assert post.vdir == res["version_dir"] != res["previous_version_dir"]
    assert post.manifest["n_docs"] == n_pre_live and len(post.tombstones) == 0

    # time travel: the previous version is still fully queryable, with
    # its tombstones intact
    old = IndexSearcher(spark, idx, version_dir=res["previous_version_dir"])
    assert old.manifest["n_docs"] == 80 and len(old.tombstones) == 2
    assert old.search(["the"], k=5)["score"].tolist() != []

    # rollback: re-publish the previous version; readers see it again
    catalog.publish_version(idx, res["previous_version_dir"])
    back = IndexSearcher(spark, idx)
    assert back.vdir == res["previous_version_dir"]
    assert back.manifest["n_docs"] == 80 and len(back.tombstones) == 2
    # and the compacted version remains on disk for re-publish forward
    assert os.path.isdir(res["version_dir"])


def test_open_searcher_survives_append_and_refresh_sees_it(spark, tmp_path):
    """Snapshot contract (the round-4 review finding): a searcher opened
    BEFORE an append must keep answering from its point-in-time view —
    appends write new batch dirs, their term_stats included, so nothing
    a cached file index references is replaced in place.
    refresh() then reopens at the current state."""
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 20), idx, n_buckets=8, n_segments=2)
    old = IndexSearcher(spark, idx)
    # populate every cached source: distributed search (postings+doc_stats
    # +doc-side), suggest_df (term_stats), dictionary
    before_top = old.search_df(["baco"], k=5).collect()
    old.suggest_df("ba", k=3).collect()
    n_before = old.n_docs

    append_batch(spark, _corpus(spark, 20, 30), idx)

    # the pre-append searcher still works, still sees its snapshot
    again = old.search_df(["baco"], k=5).collect()
    assert [r["doc_ord"] for r in again] == [r["doc_ord"] for r in before_top]
    assert old.suggest_df("ba", k=3).count() >= 0  # term_stats not broken
    assert old.n_docs == n_before

    # refresh() sees the appended docs with fresh global stats
    new = old.refresh()
    assert new.n_docs == 30 * 4
    got = new.search_df(["baco"], k=1000).collect()
    assert any(r["conv_id"] >= "conv00000020" for r in got)
    new.close()


def test_manual_and_epoch_batch_ids_never_collide(spark, tmp_path):
    """Review finding: manual appends allocated max(existing)+1, which
    could land on the NEXT stream epoch's id — that epoch's replay would
    then overwrite the manual batch in place. Manual ids now live
    strictly below EPOCH_BID_BASE."""
    from es_indexer_spark.streaming.incremental import EPOCH_BID_BASE

    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 10), idx, n_buckets=8, n_segments=2)
    r_epoch0 = append_batch(spark, _corpus(spark, 10, 12), idx, epoch_id=0)
    r_manual = append_batch(spark, _corpus(spark, 12, 14), idx)
    r_epoch1 = append_batch(spark, _corpus(spark, 14, 16), idx, epoch_id=1)
    bids = {r_epoch0["batch"], r_manual["batch"], r_epoch1["batch"]}
    assert len(bids) == 3
    assert r_manual["batch"] < EPOCH_BID_BASE <= r_epoch0["batch"]
    assert r_epoch1["batch"] == EPOCH_BID_BASE + 1
    s = IndexSearcher(spark, idx)
    assert s.n_docs == 16 * 4  # nothing overwritten
    vdir = s.vdir
    for b in bids:
        assert os.path.isdir(os.path.join(vdir, "postings", f"batch={b}"))


def test_new_stream_epoch_collision_fails_loudly_not_silently(spark, tmp_path):
    """Review finding: epoch ids are unique only per streaming checkpoint.
    A NEW stream (fresh checkpointLocation) appending to an index a
    previous stream already fed restarts at epoch 0 — its first
    micro-batch must NOT be swallowed as a replay of the old stream's
    committed epoch 0; it must raise. The SAME stream replaying its own
    committed epoch still short-circuits idempotently."""
    import pytest

    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 10), idx, n_buckets=8, n_segments=2)
    r0 = append_batch(spark, _corpus(spark, 10, 12), idx,
                      epoch_id=0, stream_id="/ck/stream-A")
    assert not r0.get("replayed")
    # same stream, same epoch → idempotent replay skip (exactly-once)
    r_replay = append_batch(spark, _corpus(spark, 10, 12), idx,
                            epoch_id=0, stream_id="/ck/stream-A")
    assert r_replay.get("replayed") and r_replay["appended"] == r0["appended"]
    # DIFFERENT stream, same epoch → loud failure, never a silent drop
    with pytest.raises(RuntimeError, match="collides with a committed append"):
        append_batch(spark, _corpus(spark, 12, 14), idx,
                     epoch_id=0, stream_id="/ck/stream-B")
    # no stream id at all (manual caller) vs a stream's committed epoch:
    # identity unknown → also loud
    with pytest.raises(RuntimeError, match="collides"):
        append_batch(spark, _corpus(spark, 12, 14), idx, epoch_id=0)
    s = IndexSearcher(spark, idx)
    assert s.n_docs == 12 * 4  # stream B's batch never half-landed


def test_append_batch_releases_ordinal_cache(spark, tmp_path):
    """Review finding: the persisted ordinal-assignment cache leaked every
    micro-batch because the DataFrame was rebound before the handle was
    read — a long-running stream grew executor memory without bound."""
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 10), idx, n_buckets=8, n_segments=2)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for epoch in range(3):
        append_batch(spark, _corpus(spark, 10 + epoch, 11 + epoch), idx,
                     epoch_id=epoch)
    after = jsc.getPersistentRDDs().size()
    assert after <= before, f"persisted RDDs grew {before} -> {after} (leak)"


def test_term_stats_retention_and_replay_safety(spark, tmp_path):
    """Each append writes only its own batch dictionary
    (``term_stats/batch=<bid>``) and keeps every earlier one — no
    dictionary expires while its batch lives — and a replay of a
    COMMITTED epoch returns the recorded result and mutates nothing."""
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 10), idx, n_buckets=8, n_segments=2)
    vdir = IndexSearcher(spark, idx).vdir

    def ts_dirs():
        return sorted(os.listdir(os.path.join(vdir, "term_stats")))

    assert ts_dirs() == ["batch=0"]
    append_batch(spark, _corpus(spark, 10, 11), idx, epoch_id=0)
    append_batch(spark, _corpus(spark, 11, 12), idx, epoch_id=1)
    assert ts_dirs() == ["batch=0", "batch=10000", "batch=10001"]
    files = {
        f: os.path.getmtime(os.path.join(d, f))
        for d, _, fs in os.walk(os.path.join(vdir, "term_stats")) for f in fs
    }
    # replay of a COMMITTED epoch: detected via its append checkpoint,
    # returns the recorded result, mutates nothing (exactly-once)
    r = append_batch(spark, _corpus(spark, 11, 12), idx, epoch_id=1)
    assert r.get("replayed") and r["appended"] == 4
    assert ts_dirs() == ["batch=0", "batch=10000", "batch=10001"]
    assert files == {
        f: os.path.getmtime(os.path.join(d, f))
        for d, _, fs in os.walk(os.path.join(vdir, "term_stats")) for f in fs
    }
    s = IndexSearcher(spark, idx)
    assert s.n_docs == 12 * 4
    assert s.count(["the"]) == s._global_dfs(["the"])["the"] > 0


def test_open_searcher_dictionary_survives_appends(spark, tmp_path):
    """Appends never delete a dictionary, so a searcher opened before two
    appends still answers expansions and global dfs with its open-time
    values — from the resident arrays and from the scan alike, neither
    read before the appends — and ``refresh()`` sees the appended
    terms."""
    import datetime

    from es_indexer_spark.corpus import TRANSCRIPT_SCHEMA

    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 10), idx, n_buckets=8, n_segments=2)
    terms = ["the", "baco", "zqxmark"]
    ref = IndexSearcher(spark, idx)
    want = (ref.expand_prefix("ba", 1000), ref.expand_fuzzy("bacu"), ref._global_dfs(terms))
    assert want[0] and want[2]["the"] > 0 and want[2]["zqxmark"] == 0
    resident = IndexSearcher(spark, idx)
    scan = IndexSearcher(spark, idx)
    scan.driver_max_docs = 0  # read the dictionary by scan, not resident

    marked = spark.createDataFrame(
        [("conv00000099", 0, "user", "zqxmark the baco", None,
          datetime.datetime(2024, 1, 1))],
        TRANSCRIPT_SCHEMA,
    )
    append_batch(spark, _corpus(spark, 10, 12).unionByName(marked), idx)
    append_batch(spark, _corpus(spark, 12, 14), idx)

    for s in (resident, scan):
        assert (s.expand_prefix("ba", 1000), s.expand_fuzzy("bacu"),
                s._global_dfs(terms)) == want
        assert s.expand_prefix("zqx") == []
    for old, max_docs in ((resident, resident.driver_max_docs), (scan, 0)):
        fresh = old.refresh()
        fresh.driver_max_docs = max_docs
        assert fresh.n_docs == 14 * 4 + 1
        assert fresh.expand_prefix("zqx") == ["zqxmark"]
        dfs = fresh._global_dfs(terms)
        assert dfs["zqxmark"] == 1 and dfs["the"] > want[2]["the"]
        fresh.close()


def test_delete_where_bulk_predicate_no_driver_ids(spark, tmp_path):
    """S10 bulk variant: delete by DataFrame predicate writes matched
    ordinals as a parquet tombstone delta executor-side (no id list
    through the driver), masks exactly like id-list deletes, composes
    with them, and compaction clears both stores."""
    from es_indexer_spark.streaming.incremental import (
        delete_where,
        load_tombstones,
        rebuild_compacted,
    )

    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 30), idx, n_buckets=8, n_segments=2)
    s0 = IndexSearcher(spark, idx)
    vdir = s0.vdir

    key = F.col("conv_id").substr(5, 8).cast("long")
    n = delete_where(spark, idx, (key % 3 == 0) & (F.col("turn_idx") < 2))
    assert n == 10 * 2  # 10 of 30 convs, 2 of 4 turns each
    assert os.path.isdir(os.path.join(vdir, "tombstones_pq", "batch=0"))

    s1 = IndexSearcher(spark, idx)
    assert len(s1.tombstones) == 20
    got = s1.scan_after(page_size=10_000).toPandas()
    assert len(got) == 30 * 4 - 20
    dead = got[(got["conv_id"].str[4:].astype(int) % 3 == 0) & (got["turn_idx"] < 2)]
    assert len(dead) == 0

    # SQL-string predicate + composition with an id-list delete
    assert delete_where(spark, idx, "turn_idx = 3 AND conv_id = 'conv00000001'") == 1
    assert delete_docs(spark, idx, ["conv00000002:3"]) == 1
    tombs = load_tombstones(vdir)
    assert len(tombs) == 22 and (tombs == sorted(tombs)).all()

    # compaction clears both tombstone stores
    rebuild_compacted(spark, idx)
    s2 = IndexSearcher(spark, idx)
    assert len(s2.tombstones) == 0
    assert s2.n_docs == 30 * 4 - 22


def test_distributed_path_snapshot_isolation_under_append(spark, tmp_path):
    """Lucene point-in-time reader semantics on the DISTRIBUTED path
    (driver-path snapshot tests exist; round-4 verdict item 7 asks for
    this one): a searcher opened before an append keeps serving the
    as-of-open corpus from search_df — its cached file index and packed
    doc-side norms never see the new batch dirs — while refresh()
    returns a searcher that scores the union corpus."""
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 20), idx, n_buckets=8, n_segments=2)
    s_old = IndexSearcher(spark, idx)
    before = s_old.search_df(["the"], k=10_000).toPandas()  # builds doc-side cache
    assert (before["conv_id"] < "conv00000020").all()
    n_before = len(before)
    assert s_old.count_df(["the"]) == n_before

    append_batch(spark, _corpus(spark, 20, 30), idx, epoch_id=0)

    # pre-refresh: identical result set, no appended conv leaks in
    mid = s_old.search_df(["the"], k=10_000).toPandas()
    assert sorted(mid["doc_id"]) == sorted(before["doc_id"])
    assert (mid["conv_id"] < "conv00000020").all()
    assert s_old.count_df(["the"]) == n_before

    # post-refresh: the appended conversations are searchable distributed
    s_new = s_old.refresh()
    after = s_new.search_df(["the"], k=10_000).toPandas()
    assert len(after) > n_before
    assert (after["conv_id"] >= "conv00000020").any()
    assert s_new.count_df(["the"]) == len(after)
    # scores equal a from-scratch build over the union corpus (BM25 stats
    # are corpus-global): spot-check the distributed top-k
    idx_full = str(tmp_path / "idx_full")
    build_index(spark, _corpus(spark, 0, 30), idx_full, n_buckets=8, n_segments=2)
    ref = IndexSearcher(spark, idx_full)
    ga = s_new.search_df(["baco", "cora"], k=15).toPandas()
    gb = ref.search_df(["baco", "cora"], k=15).toPandas()
    assert ga["doc_id"].tolist() == gb["doc_id"].tolist()
    assert ga["score"].tolist() == pytest.approx(gb["score"].tolist())
    s_new.close()
    ref.close()


def _exact_dictionary(vdir, bid=None):
    """{term: (df, total_tf)} aggregated over every posting chunk of the
    index (or of batch ``bid``) — the full re-aggregation the per-batch
    dictionaries must sum to."""
    import pyarrow.dataset as pads

    root = os.path.join(vdir, "postings") + ("" if bid is None else f"/batch={bid}")
    agg = pads.dataset(root, partitioning="hive", format="parquet").to_table(
        columns=["term", "df_chunk", "sum_tf"]
    ).group_by("term").aggregate([("df_chunk", "sum"), ("sum_tf", "sum")])
    return dict(zip(agg["term"].to_pylist(),
                    zip(agg["df_chunk_sum"].to_pylist(), agg["sum_tf_sum"].to_pylist())))


def _dictionary_of(s: IndexSearcher) -> dict:
    td = s.term_dictionary()
    return dict(zip(td["term"], zip(td["df"].tolist(), td["total_tf"].tolist())))


def test_incremental_term_stats_equals_full_rebuild(spark, tmp_path):
    """Every append writes only its own batch's dictionary; the searcher's
    sum over the batches must be EXACTLY the full re-aggregation over
    all postings, term-sorted."""
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 20), idx, n_buckets=8, n_segments=2)
    for lo, hi in ((20, 26), (26, 30), (30, 41)):
        append_batch(spark, _corpus(spark, lo, hi), idx)
    s = IndexSearcher(spark, idx)
    got = _dictionary_of(s)
    assert got == _exact_dictionary(s.vdir) and len(got) > 100
    assert list(s.term_dictionary()["term"]) == sorted(got)
    s.close()


def test_dict_driver_and_spark_merge_paths_identical(spark, tmp_path, monkeypatch):
    """The size-dispatched dictionary writer's driver (pyarrow) and Spark
    (groupBy) branches must write bit-equal statistics in an identical
    layout (tlen hive dirs, term-sorted files, same column schema), so
    the batches of one index can come from either."""
    import glob

    import pyarrow.dataset as pads
    import pyarrow.parquet as papq

    from es_indexer_spark.index import build

    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 20), idx, n_buckets=8, n_segments=2)
    append_batch(spark, _corpus(spark, 20, 26), idx)  # driver branch (small)
    # force the SPARK branch for the next append, then a driver one
    monkeypatch.setattr(build, "DICT_DRIVER_MAX_ROWS", 0)
    append_batch(spark, _corpus(spark, 26, 33), idx)
    monkeypatch.setattr(build, "DICT_DRIVER_MAX_ROWS", 2_000_000)
    append_batch(spark, _corpus(spark, 33, 41), idx)
    s = IndexSearcher(spark, idx)
    # both branches interleaved; the sum == full re-aggregation, exactly
    assert _dictionary_of(s) == _exact_dictionary(s.vdir)
    schemas = {}
    for bid in (0, 1, 2, 3):
        root = os.path.join(s.vdir, "term_stats", f"batch={bid}")
        tbl = pads.dataset(root, partitioning="hive", format="parquet").to_table()
        assert dict(zip(tbl["term"].to_pylist(), zip(
            tbl["df"].to_pylist(), tbl["total_tf"].to_pylist()))) == _exact_dictionary(s.vdir, bid)
        schemas[bid] = [(f.name, f.type) for f in tbl.schema]
        files = glob.glob(os.path.join(root, "tlen=*", "*.parquet"))
        assert len(files) == len({os.path.dirname(f) for f in files})  # one per tlen
        for f in files:
            terms = papq.read_table(f, columns=["term"])["term"].to_pylist()
            assert terms == sorted(terms)
    # layout parity: the Spark-written batch 2 reads like the others
    assert schemas[2] == schemas[0] == schemas[1] == schemas[3]
    s.close()


def test_append_checkpoint_carries_lineage_metrics(spark, tmp_path):
    """Append checkpoints record the same lineage metrics as build
    checkpoints (north-star parity: turns tokenized, postings emitted,
    bytes compressed per partition/batch)."""
    from es_indexer_spark.index import catalog

    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 20), idx, n_buckets=8, n_segments=2)
    append_batch(spark, _corpus(spark, 20, 26), idx)
    vdir = IndexSearcher(spark, idx).vdir
    ck = catalog.read_json(os.path.join(vdir, "checkpoints", "append_00001.json"))
    assert ck["turns_tokenized"] == 6 * 4
    assert ck["postings_emitted"] > 0
    assert ck["bytes_compressed"] > 0
    # postings_emitted is the batch's total term-doc incidences: bounded
    # above by total tokens, below by docs (every doc has >=1 term)
    assert 6 * 4 <= ck["postings_emitted"]
