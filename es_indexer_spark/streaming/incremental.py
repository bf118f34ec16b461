"""Incremental indexing: streaming append, single-doc upsert, delete.

The reference has no stream processing (SURVEY §2.10) — its closest
analogues are the month-bucketed incremental batches
(``DatasetProvider.java:63-90``), the single-doc ``@Async`` upsert path
(``IndexerMetadataServiceImpl.java:415-451``, ``_id``-keyed so replays are
idempotent) and delete (``:453-474``). This module re-expresses those as:

- ``append_batch``: index a new slice of transcripts as additional posting
  batches INSIDE the current version — new docs get ordinals [N, N+m) and
  fresh segment ids, so every existing chunk stays valid and the published
  manifest flips atomically (readers see the old or the new doc count,
  never a torn state);
- ``incremental_index``: Structured Streaming driver — ``foreachBatch``
  over any stream of transcript rows, each micro-batch an ``append_batch``
  (exactly-once per epoch via the streaming checkpoint + our idempotent
  batch directories);
- ``delete_docs`` / ``upsert_docs``: Lucene-style tombstones — a deleted
  doc_ord set consulted at query time; upsert = tombstone the old turn +
  append the new one. Compaction = a fresh full build (blue/green swap),
  exactly how the reference's reindex-all works.

BM25 global stats stay exact without any corpus-wide pass: N and avgdl
are summed into the manifest at each publish, and df/total_tf live in
each batch's own term dictionary (``term_stats/batch=<bid>``), which
readers sum across batches. Scores after an append therefore equal a
from-scratch build over the union corpus (idf is a corpus-wide
statistic; tested in tests/test_streaming.py).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index import catalog
from ..index.build import _enc_schema, _tokenize_encode, merge_chunks, write_term_stats


# epoch-derived batch ids live at EPOCH_BID_BASE + epoch_id; manual
# appends allocate strictly below it, so the two can never collide —
# a stream replaying epoch N must overwrite ITS OWN directory, never a
# manual batch that happened to land on the same number (review finding)
EPOCH_BID_BASE = 10_000


def _next_batch_id(postings_root: str) -> int:
    if not os.path.isdir(postings_root):
        return 0
    ids = [
        int(d.split("=", 1)[1])
        for d in os.listdir(postings_root)
        if d.startswith("batch=")
    ]
    manual = [i for i in ids if i < EPOCH_BID_BASE]
    nxt = max(manual) + 1 if manual else 0
    if nxt >= EPOCH_BID_BASE:
        raise RuntimeError(
            f"manual append batch ids exhausted ({EPOCH_BID_BASE}); compact "
            "the index (rebuild_compacted) to reset batch numbering"
        )
    return nxt


def append_batch(
    spark: SparkSession,
    df: DataFrame,
    index_dir: str,
    epoch_id: int | None = None,
    stream_id: str | None = None,
) -> dict:
    """Append a batch of NEW transcript turns to the current index version.

    Idempotent per epoch: the batch directory is derived from ``epoch_id``
    when given (streaming replays overwrite, never duplicate — the Spark
    analogue of the reference's retry-until-success upsert,
    ``IndexServiceImpl.java:167-221``). ``stream_id`` identifies WHICH
    stream the epoch belongs to (``incremental_index`` passes its
    checkpoint location): epoch ids are unique only per streaming-
    checkpoint lifetime, so a new stream (fresh checkpoint dir, or a
    second pipeline) reuses epoch 0,1,… — without the id, its first
    micro-batches would match a previous stream's committed append
    checkpoints and be silently dropped as replays (data loss). A
    mismatched stream_id on an existing epoch checkpoint fails loudly
    instead."""
    from pyspark.sql import types as T

    from ..analysis import doc_lengths, suggest_tokens_series
    from ..corpus import with_doc_ids

    vdir = catalog.current_version_dir(index_dir)
    if vdir is None:
        raise FileNotFoundError(f"no published index in {index_dir}")
    # finish any merge interrupted mid-commit before mutating further —
    # appends are the first mutator a restarted stream runs, so this is
    # the natural recovery hook (Lucene replays its pending segment
    # commit on IndexWriter open the same way). No-op unless an
    # unfinished merge intent exists.
    from ..index.merge import recover_merges

    recover_merges(spark, index_dir)
    manifest = catalog.read_json(os.path.join(vdir, "manifest.json"))
    # ordinal base: one past the highest ordinal EVER allocated — after an
    # expunging merge (index/merge.py) live rows < ordinal span, and
    # allocating from the live count would collide with surviving docs
    n_before = int(manifest.get("next_ord", manifest["n_docs"]))
    live_before = int(manifest["n_docs"])
    n_buckets = int(manifest["n_buckets"])
    with_positions = bool(manifest["with_positions"])
    # analyzer symmetry: appends to a suggest-analyzed index must tokenize
    # (both dl and postings) with the SAME analyzer the index was built with
    analyzer = manifest.get("analyzer", "index")

    def _dl(texts):
        if analyzer == "index":
            return doc_lengths(texts)
        return suggest_tokens_series(texts).map(len).astype("int32")

    dl_udf = F.pandas_udf(_dl, T.IntegerType())
    postings_root = os.path.join(vdir, "postings")
    bid = (
        _next_batch_id(postings_root)
        if epoch_id is None
        else EPOCH_BID_BASE + int(epoch_id)
    )
    # exactly-once under replay-after-commit: foreachBatch can redeliver
    # an epoch whose sink completed if the STREAM checkpoint commit did
    # not land. The append checkpoint is written BEFORE the manifest
    # flip, so "checkpoint exists AND the manifest already covers its
    # ordinal range" means this epoch fully committed — skip, don't
    # double-offset ordinals (which would trip the drift assert and
    # wedge the stream). Any earlier failure point replays normally:
    # the manifest was not flipped, so n_before is still correct.
    ck_path = os.path.join(vdir, "checkpoints", f"append_{bid:05d}.json")
    if epoch_id is not None and os.path.exists(ck_path):
        ck = catalog.read_json(ck_path)
        if ck.get("stream_id") != stream_id:
            # same epoch number, DIFFERENT stream: this is a new pipeline
            # whose epochs restart at 0 against an index another stream
            # already fed. Skipping here would silently drop its first
            # micro-batches as "replays" (review finding) — refuse loudly.
            raise RuntimeError(
                f"epoch {epoch_id} of stream {stream_id!r} collides with a "
                f"committed append from stream {ck.get('stream_id')!r} "
                f"({ck_path}). Epoch ids are only unique per streaming "
                "checkpoint: resume the original checkpointLocation, or "
                "compact the index (rebuild_compacted) before attaching a "
                "new stream."
            )
        if n_before >= int(ck["doc_ord_range"][1]):
            return {
                "appended": int(ck["appended"]),
                "n_docs": int(manifest["n_docs"]),
                "batch": bid,
                "replayed": True,
            }
    seg_id = int(manifest["n_segments"]) + bid  # fresh segment label per batch

    # the incoming batch is evaluated exactly ONCE (guide §2.3/§5): the
    # range-partitioner sampling pass, the ordinal shuffle and the guard
    # aggregate would otherwise each re-run the source plan — for a
    # filter over an expensive upstream (a generator, a join) that was
    # the single largest per-append constant (measured 1.5 s of a 4.0 s
    # append at bench scale, BENCH_NOTES round 6)
    from pyspark import StorageLevel

    src = df.select("conv_id", "turn_idx", "role", "text", "tool", "ts").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    m = src.count()
    if m == 0:
        src.unpersist()
        return {"appended": 0, "n_docs": n_before}
    # ordinal-shuffle width derives from the BATCH size (scale-adaptive,
    # guide §2): a micro-batch sorts on one partition (repartitionByRange
    # with numPartitions=1 skips the sampling pass entirely), a bulk
    # append fans out at ~250k rows/task up to the cluster width
    n_parts = max(1, min(spark.sparkContext.defaultParallelism,
                         -(-m // 250_000)))
    # ordinals continue densely after the existing corpus, in stable
    # (conv_id, turn_idx) order within the batch
    batch = (
        with_doc_ids(src)
        .repartitionByRange(n_parts, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
    )
    from ..corpus import assign_doc_ordinals

    docs = assign_doc_ordinals(batch, assume_sorted=True)
    assert docs._total_count == m, "ordinal count drifted from source count"
    # capture the persisted parent BEFORE rebinding `docs` — withColumn
    # returns a fresh DataFrame without the attribute, and losing the
    # handle leaks one MEMORY_AND_DISK dataset per micro-batch on a
    # long-running stream (review finding)
    parent = getattr(docs, "_persisted_parent", None)
    docs = docs.withColumn("doc_ord", F.col("doc_ord") + F.lit(n_before))

    doc_slice = (
        docs.withColumn("dl", dl_udf("text"))
        .withColumn("seg", F.lit(seg_id))
        .select(
            "doc_ord", "doc_id", "conv_id", "turn_idx", "role", "tool",
            "ts", "dl", "seg", "text",
        )
    )
    # idempotent per-epoch append: distinct partition directory, overwrite
    ds_batch = os.path.join(vdir, "doc_stats", f"batch={bid}")
    doc_slice.write.mode("overwrite").parquet(ds_batch)
    src.unpersist()
    if parent is not None:  # release the ordinal-assignment cache per epoch
        parent.unpersist()
    doc_slice = spark.read.parquet(ds_batch)

    n_total = n_before + m
    pre = _tokenize_encode(
        doc_slice.withColumn("doc_ord", F.col("doc_ord")),  # already offset
        n_docs=1, n_segments=1, n_buckets=n_buckets, with_positions=with_positions,
        analyzer=analyzer,
    ).withColumn("seg", F.lit(seg_id))
    # encode-merge width also derives from the batch size (~1k docs per
    # merge task): a micro-batch stops fanning into parallelism/2
    # near-empty writer tasks (each touching up to n_buckets files),
    # while bulk appends still use the full cluster width
    n_enc = max(1, min(spark.sparkContext.defaultParallelism // 2,
                       -(-m // 1_000)))
    enc = (
        pre.repartition(n_enc, "tbucket")
        .sortWithinPartitions("term", "seg", "min_doc")
        .mapInPandas(
            lambda it: (merge_chunks(pdf, with_positions) for pdf in it),
            _enc_schema(with_positions),
        )
    )
    batch_postings = os.path.join(postings_root, f"batch={bid}")
    enc.write.mode("overwrite").partitionBy("tbucket").parquet(batch_postings)
    # the batch's own dictionary, O(batch): a replayed epoch overwrites it
    # like its postings, and no other batch's dictionary is read or written
    write_term_stats(spark, batch_postings, os.path.join(vdir, "term_stats", f"batch={bid}"))

    # global stats update is INCREMENTAL (n/total_tokens are associative
    # sums; avgdl = total/n exactly as build_index computes it): the
    # previous full doc_stats aggregate was one O(corpus) Spark job per
    # micro-batch. The batch's own dl sum (and the m cross-check) come
    # from the just-written parquet, driver-side columnar, O(batch).
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    dl_tbl = pads.dataset(ds_batch, format="parquet").to_table(columns=["dl"])
    if dl_tbl.num_rows != m:  # write-integrity gate (was: full-count assert)
        raise RuntimeError(
            f"doc_stats batch {bid} wrote {dl_tbl.num_rows} rows != {m}"
        )
    batch_tokens = int(pc.sum(dl_tbl.column("dl")).as_py() or 0)
    n_live = live_before + m
    total_tokens = int(manifest.get("total_tokens", 0)) + batch_tokens
    # per-batch lineage metrics, same fields as the build checkpoints
    # (turns tokenized, postings emitted, bytes compressed) — read
    # streamed from the just-written batch's parquet, O(batch) not
    # O(index), no driver materialization of the postings themselves
    bcols = ["df_chunk", "doc_bytes", "tf_bytes"] + (
        ["pos_bytes"] if with_positions else [])
    postings_emitted = bytes_compressed = 0
    for rb in pads.dataset(batch_postings, format="parquet").to_batches(columns=bcols):
        postings_emitted += pc.sum(rb.column("df_chunk")).as_py() or 0
        for c in bcols[1:]:
            bytes_compressed += pc.sum(pc.binary_length(rb.column(c))).as_py() or 0

    # checkpoint BEFORE the manifest flip (see the replay guard above)
    catalog.write_json(
        ck_path,
        {"batch": bid, "epoch_id": epoch_id, "stream_id": stream_id,
         "appended": m, "doc_ord_range": [n_before, n_total], "seg": seg_id,
         "turns_tokenized": m,
         "postings_emitted": int(postings_emitted),
         "bytes_compressed": int(bytes_compressed)},
    )
    manifest.update(
        {
            "n_docs": n_live,
            "next_ord": n_total,
            "total_tokens": total_tokens,
            "avgdl": (total_tokens / n_live) if n_live else 0.0,
        }
    )
    catalog.write_json(os.path.join(vdir, "manifest.json"), manifest)
    return {"appended": m, "n_docs": n_live, "batch": bid}


def incremental_index(
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    dedup: bool | int = False,
    dead_letter_dir: str | None = None,
    merge_every: int | None = None,
):
    """Structured Streaming driver: any stream of transcript-shaped rows →
    per-micro-batch index append. Exactly-once per epoch: the streaming
    checkpoint replays failed epochs and append_batch overwrites the same
    epoch-derived batch directory.

    ``dedup`` fronts the stream with the stateful content-fingerprint
    gate (``streaming/operators.streaming_dedup``, full-row passthrough):
    replayed/re-crawled documents are dropped within AND across
    micro-batches before they ever reach the index. Pass an int to set
    the state bucket count (default 64).

    Every micro-batch is quarantined BEFORE the dedup gate
    (``sources.readers.split_quarantine``, stateless stream filters):
    corrupt-record rows from a PERMISSIVE JSON/CSV stream and rows
    violating the key invariants (null conv_id/text/role/ts, negative
    turn_idx) never reach the dedup state OR ``append_batch`` — running
    quarantine after dedup would let all corrupt rows collapse onto one
    null-text fingerprint (first passes misclassified, the rest silently
    swallowed, and a legitimate empty document dropped as their
    "duplicate"). With ``dead_letter_dir`` set, the bad side runs as its
    own exactly-once query (checkpoint ``<checkpoint_dir>/_dlq``, one
    idempotent ``batch=<epoch>`` directory per non-empty epoch) — the
    standard two-sink pattern, at the cost of the source being read by
    both queries; without it bad rows are dropped. Returns the indexing
    query; the DLQ query (if any) is attached as ``query.dlq_query``.

    ``merge_every=N`` runs the tiered segment merge (``index/merge.py``)
    inside the sink after every N committed epochs — the long-running-
    stream hygiene ES gets from Lucene's background merge scheduler:
    without it a stream accumulates one segment per micro-batch forever.
    The merge is crash-safe (intent log) and replay-safe (a replayed
    epoch returns before the counter increments), and runs on the
    foreachBatch driver thread between epochs, exactly where Lucene
    would block an IndexWriter commit."""
    from ..corpus import TRANSCRIPT_SCHEMA
    from ..sources.readers import split_quarantine

    good_stream, bad_stream = split_quarantine(stream_df)
    dlq_query = None
    if dead_letter_dir is not None:
        from ..sources.sinks import write_dead_letter

        def dlq_sink(batch_df: DataFrame, epoch_id: int) -> None:
            if not batch_df.isEmpty():  # no empty batch dirs on clean epochs
                write_dead_letter(batch_df, dead_letter_dir, batch_id=epoch_id)

        dlq_query = (
            bad_stream.writeStream.foreachBatch(dlq_sink)
            .option("checkpointLocation", os.path.join(checkpoint_dir, "_dlq"))
            .trigger(**(trigger or {"availableNow": True}))
            .start()
        )

    stream_df = good_stream
    if dedup:
        from .operators import streaming_dedup

        n_buckets = dedup if isinstance(dedup, int) and dedup is not True else 64
        stream_df = streaming_dedup(stream_df, n_buckets=n_buckets).select(
            *[f.name for f in TRANSCRIPT_SCHEMA.fields]
        )

    # the checkpoint location IS the stream's identity: epoch numbering is
    # scoped to it, so append_batch's replay-skip must never fire for an
    # epoch another checkpoint committed (review finding)
    stream_id = os.path.abspath(checkpoint_dir)

    applied = {"n": 0}  # committed (non-replayed) epochs since last merge

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        out = append_batch(batch_df.sparkSession, batch_df, index_dir,
                           epoch_id=epoch_id, stream_id=stream_id)
        if not merge_every or out.get("replayed") or out.get("appended", 0) == 0:
            return
        applied["n"] += 1
        if applied["n"] >= merge_every:
            from ..index.merge import merge_segments

            merge_segments(batch_df.sparkSession, index_dir)
            applied["n"] = 0

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
    )
    q = writer.start()
    q.dlq_query = dlq_query  # None unless dead_letter_dir was given
    return q


# ----------------------------------------------------------------- tombstones

def delete_docs(spark: SparkSession, index_dir: str, doc_ids: list[str]) -> int:
    """S10 doc delete: tombstone by doc_id (Lucene-style — postings stay,
    results are masked; compaction = full rebuild/blue-green swap). The
    matched ordinals land in the ``delete_where`` store."""
    vdir = catalog.current_version_dir(index_dir)
    if vdir is None:
        raise FileNotFoundError(f"no published index in {index_dir}")
    matched = (
        spark.read.parquet(os.path.join(vdir, "doc_stats"))
        .filter(F.col("doc_id").isin(doc_ids))
        .select("doc_ord")
    )
    return _write_tombstone_delta(vdir, matched)


def delete_where(spark: SparkSession, index_dir: str, predicate) -> int:
    """S10 bulk delete by DataFrame predicate: tombstone every doc whose
    doc_stats row matches ``predicate`` (a Column, or a SQL string passed
    through ``F.expr``) — e.g. ``F.col("conv_id").cast("long") % 7 == 0``
    or ``"role = 'tool' AND ts < timestamp'2023-01-01'"``.

    No ids ever route through the driver: the matched ordinals are
    written executor-side as a parquet tombstone delta
    (``tombstones_pq/batch=N``), so a delete matching an O(corpus) slice
    is one pushed filter + one column write. Query paths read the union
    of the deltas (``load_tombstones``); compaction
    (``rebuild_compacted``) starts a version with none."""
    vdir = catalog.current_version_dir(index_dir)
    if vdir is None:
        raise FileNotFoundError(f"no published index in {index_dir}")
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    matched = (
        spark.read.parquet(os.path.join(vdir, "doc_stats"))
        .filter(cond)
        .select("doc_ord")
    )
    return _write_tombstone_delta(vdir, matched)


def _tombstone_deltas(vdir: str) -> list[int]:
    """Ids of the tombstone deltas (``tombstones_pq/batch=N``), ascending."""
    root = os.path.join(vdir, "tombstones_pq")
    if not os.path.isdir(root):
        return []
    return sorted(int(d.split("=", 1)[1]) for d in os.listdir(root) if d.startswith("batch="))


def _write_tombstone_delta(vdir: str, matched: DataFrame | np.ndarray) -> int:
    """Write the next parquet tombstone delta (``tombstones_pq/batch=N``)
    from a (doc_ord) DataFrame, executor-side — no ids cross the driver —
    or from a driver-side ordinal array; returns its row count from
    parquet metadata."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    import pyarrow.parquet as papq

    ids = _tombstone_deltas(vdir)
    out = os.path.join(vdir, "tombstones_pq", f"batch={ids[-1] + 1 if ids else 0}")
    if isinstance(matched, DataFrame):
        matched.write.mode("overwrite").parquet(out)
    else:
        # written under a hidden name and renamed: readers never see a
        # torn file
        os.makedirs(out, exist_ok=True)
        tmp = os.path.join(out, ".part-0.parquet")
        papq.write_table(pa.table({"doc_ord": pa.array(matched, pa.int64())}), tmp)
        os.replace(tmp, os.path.join(out, "part-0.parquet"))
    return int(pads.dataset(out, format="parquet").count_rows())


def load_tombstones(vdir: str) -> np.ndarray:
    """Union of the tombstone deltas, sorted + deduped. Driver cost is
    O(deleted docs) — the same asymptotics as Lucene's liveDocs bitset."""
    pq = os.path.join(vdir, "tombstones_pq")
    if not os.path.isdir(pq):
        return np.zeros(0, dtype=np.int64)
    import pyarrow as pa
    import pyarrow.dataset as pads

    # typed explicitly: a merge that expunged every tombstone leaves no file
    ds = pads.dataset(pq, schema=pa.schema([("doc_ord", pa.int64())]), format="parquet")
    return np.unique(ds.to_table()["doc_ord"].to_numpy())


def upsert_docs(spark: SparkSession, df: DataFrame, index_dir: str) -> dict:
    """S11 single/multi-doc upsert: tombstone existing (conv_id, turn_idx)
    versions, then append the new turns (``_id``-keyed update semantics of
    ``IndexerMetadataServiceImpl.java:429-435``).

    The old versions' ordinals come from a broadcast semi-join of
    doc_stats against the incoming batch's distinct keys and land as an
    executor-side parquet tombstone delta (the ``delete_where`` store),
    so the matched ordinals never cross the driver. The broadcast does:
    Spark collects the batch's distinct (conv_id, turn_idx) keys to the
    driver to ship them, so driver memory grows with the batch's key
    count (not with the corpus)."""
    vdir = catalog.current_version_dir(index_dir)
    if vdir is None:
        raise FileNotFoundError(f"no published index in {index_dir}")
    keys = df.select("conv_id", "turn_idx").distinct()
    matched = (
        spark.read.parquet(os.path.join(vdir, "doc_stats"))
        .join(F.broadcast(keys), ["conv_id", "turn_idx"], "left_semi")
        .select("doc_ord")
    )
    deleted = _write_tombstone_delta(vdir, matched)
    out = append_batch(spark, df, index_dir)
    out["tombstoned"] = deleted
    return out


def rebuild_compacted(spark: SparkSession, index_dir: str, **build_kwargs) -> dict:
    """Tombstone compaction: rebuild the index from LIVE docs only and
    atomically publish the new version — the blue/green rebuild-and-swap
    the reference performs for reindex-all
    (``ElasticSearchIndexService.java:108-165`` picks the free -0/-1 alias
    target; ``IndexerMetadataServiceImpl.java:664-682`` finalizes after the
    validation gate). After churn (deletes/upserts) every query path pays an
    ``isin``/mask over the tombstone set; compaction restores the clean
    state: fresh dense ordinals, BM25 stats over live docs only, empty
    tombstones (the new version directory simply has no tombstones_pq),
    and the previous version left intact on disk for instant rollback.

    Distributed end to end: the live-doc scan is a Spark filter over
    doc_stats and the rebuild is the ordinary ``build_index`` dataflow —
    no driver materialization at any corpus size."""
    from ..index.build import build_index
    from ..planlimits import drop_ordinals

    vdir = catalog.current_version_dir(index_dir)
    if vdir is None:
        raise FileNotFoundError(f"no published index in {index_dir}")
    manifest = catalog.read_json(os.path.join(vdir, "manifest.json"))
    tombs = load_tombstones(vdir)
    live = drop_ordinals(spark.read.parquet(os.path.join(vdir, "doc_stats")), tombs)
    src = live.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    res = build_index(
        spark, src, index_dir,
        n_buckets=int(manifest["n_buckets"]),
        with_positions=bool(manifest["with_positions"]),
        analyzer=manifest.get("analyzer", "index"),
        resume=False,  # always a fresh version dir (never resume into blue)
        **build_kwargs,
    )
    return {
        "version_dir": res.version_dir,
        "previous_version_dir": vdir,
        "n_docs": res.n_docs,
        "tombstones_compacted": int(len(tombs)),
    }
