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

BM25 global stats (N, avgdl, df) are recomputed from the updated
doc_stats/postings at each publish, so scores after an append equal a
from-scratch build over the union corpus (idf is a corpus-wide statistic;
tested in tests/test_streaming.py).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index import catalog
from ..index.build import _enc_schema, _tokenize_encode, merge_chunks


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
    enc.write.mode("overwrite").partitionBy("tbucket").parquet(
        os.path.join(postings_root, f"batch={bid}")
    )

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
    prev_ts_dir = manifest.get("term_stats_dir", "term_stats")
    # incremental dictionary: new batch aggregates merged into the
    # previous dictionary — O(vocab + batch), not O(all postings)
    ts_dir = _update_term_stats(
        spark, vdir, n_buckets, bid, prev_ts_dir,
        os.path.join(postings_root, f"batch={bid}"),
    )
    # per-batch lineage metrics, same fields as the build checkpoints
    # (turns tokenized, postings emitted, bytes compressed) — read
    # streamed from the just-written batch's parquet, O(batch) not
    # O(index), no driver materialization of the postings themselves
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    bcols = ["df_chunk", "doc_bytes", "tf_bytes"] + (
        ["pos_bytes"] if with_positions else [])
    postings_emitted = bytes_compressed = 0
    for rb in pads.dataset(
        os.path.join(postings_root, f"batch={bid}"), format="parquet"
    ).to_batches(columns=bcols):
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
            "term_stats_dir": ts_dir,
            "n_docs": n_live,
            "next_ord": n_total,
            "total_tokens": total_tokens,
            "avgdl": (total_tokens / n_live) if n_live else 0.0,
        }
    )
    catalog.write_json(os.path.join(vdir, "manifest.json"), manifest)
    # term_stats retention (Iceberg snapshot-expiry analogue): keep the
    # just-published dictionary AND the previous one — searchers opened
    # before THIS append stay valid; anything older must refresh()
    # within one append or re-open. Without expiry a long-running stream
    # accumulates one full O(vocab) dictionary per micro-batch.
    import shutil

    if prev_ts_dir != ts_dir:
        # prev == ts means THIS bid is being replayed: the manifest already
        # points at our own dir, so the genuinely-previous dictionary is
        # unknowable here — expire nothing and let the next clean append
        # reclaim (deleting on replay would break searchers opened one
        # append ago, inside the documented retention horizon)
        keep = {ts_dir, prev_ts_dir}
        for d in os.listdir(vdir):
            if (d == "term_stats" or d.startswith("term_stats_b")) and d not in keep:
                shutil.rmtree(os.path.join(vdir, d), ignore_errors=True)
    return {"appended": m, "n_docs": n_live, "batch": bid}


def _term_stats_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("term").agg(
        F.sum("df_chunk").alias("df"),
        F.sum("sum_tf").alias("total_tf"),
        F.count("*").alias("n_chunks"),
        F.max(F.array_max("block_max_tf")).alias("max_tf"),
    )


def _write_term_stats(df: DataFrame, vdir: str, n_buckets: int, bid: int) -> str:
    """Write the dictionary hive-partitioned by capped term length,
    term-sorted within every file. Partitioning is HASH on (tlen, tbucket)
    — not repartitionByRange: the range partitioner's sampling pass
    evaluates the whole upstream aggregation a second time (one extra
    Spark job per publish; for the per-micro-batch incremental merge that
    doubled the dictionary cost — guide §2.4). hashing on tlen alone keeps ONE
    term-sorted file per length dir (fewest files to list and re-read on
    the next publish); tlen partition pruning and row-group min/max term
    pruning both survive."""
    from ..index.build import term_bucket_col, term_len_col

    name = f"term_stats_b{bid:05d}"
    (
        df.withColumn("tbucket", term_bucket_col(n_buckets))
        .withColumn("tlen", term_len_col())
        .repartition(max(1, n_buckets // 16), "tlen")
        .sortWithinPartitions("tlen", "term")
        .write.mode("overwrite")
        .partitionBy("tlen")
        .parquet(os.path.join(vdir, name))
    )
    return name


# dictionaries at or below this many rows (previous vocab + new batch's
# chunk rows, both from parquet footer counts) merge DRIVER-side through
# pyarrow/pandas — the same small-side dispatch as the query engine's
# driver_max_docs. A micro-batch publish is then ~50 ms of columnar work
# instead of a multi-stage Spark job over dozens of tiny files (measured
# ~0.7-1.0 s/append at bench scale); huge vocabularies (Heaps-law growth
# at 10^12 turns) stay on the distributed path.
DICT_DRIVER_MAX_ROWS = 2_000_000


def _update_term_stats_local(
    vdir: str, n_buckets: int, bid: int, prev_dir: str, delta_dir: str,
) -> str:
    """Driver-side incremental dictionary merge (below
    ``DICT_DRIVER_MAX_ROWS``): pyarrow batch aggregation + pandas merge +
    per-tlen sorted parquet files. Bit-equal to the Spark path (integer
    sums/maxes; asserted in tests) and writes the identical layout —
    ``tlen=K`` hive dirs, term-sorted files, same column schema — so
    readers and the NEXT append (either path) are none the wiser."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.dataset as pads
    import pyarrow.parquet as papq

    from ..index.build import TLEN_CAP, term_bucket

    # delta aggregation over the new batch's posting chunks, columnar
    parts = []
    for rb in pads.dataset(delta_dir, partitioning="hive",
                           format="parquet").to_batches(
        columns=["term", "df_chunk", "sum_tf", "block_max_tf"]
    ):
        bm = rb.column("block_max_tf")
        # list_flatten/list_value_length instead of raw .offsets/.values:
        # safe under sliced arrays with non-zero offsets
        import pyarrow.compute as _pc

        lens = _pc.list_value_length(bm).to_numpy(zero_copy_only=False)
        if (lens == 0).any():
            # reduceat would silently read the NEXT chunk's first block
            # max into this chunk's max_tf, the bound block-max pruning
            # trusts — every written chunk holds at least one block
            raise ValueError(
                f"posting chunk with an empty block_max_tf list in {delta_dir}"
            )
        vals = _pc.list_flatten(bm).to_numpy(zero_copy_only=False)
        offs = np.concatenate(([0], np.cumsum(lens)[:-1])).astype(np.int64)
        parts.append(pd.DataFrame({
            "term": rb.column("term").to_numpy(zero_copy_only=False),
            "df": rb.column("df_chunk").to_numpy(zero_copy_only=False),
            "total_tf": rb.column("sum_tf").to_numpy(zero_copy_only=False),
            "max_tf": (np.maximum.reduceat(vals, offs)
                       if len(vals) else np.zeros(0, np.int32)),
        }))
    delta = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(
        {"term": [], "df": [], "total_tf": [], "max_tf": []})
    delta = delta.groupby("term", sort=False).agg(
        df=("df", "sum"), total_tf=("total_tf", "sum"),
        n_chunks=("df", "size"), max_tf=("max_tf", "max"),
    ).reset_index()
    # previous dictionary (tbucket already materialized — only genuinely
    # NEW terms pay the crc32)
    prev = pads.dataset(
        os.path.join(vdir, prev_dir), partitioning="hive", format="parquet"
    ).to_table(
        columns=["term", "df", "total_tf", "n_chunks", "max_tf", "tbucket"]
    ).to_pandas()
    merged = pd.concat(
        [prev, delta.assign(tbucket=-1)], ignore_index=True
    ).groupby("term", sort=True).agg(
        df=("df", "sum"), total_tf=("total_tf", "sum"),
        n_chunks=("n_chunks", "sum"), max_tf=("max_tf", "max"),
        tbucket=("tbucket", "max"),  # prev's value wins; -1 = new term
    ).reset_index()
    new_mask = merged["tbucket"].to_numpy() < 0
    if new_mask.any():
        merged.loc[new_mask, "tbucket"] = [
            term_bucket(t, n_buckets) for t in merged.loc[new_mask, "term"]
        ]
    tlen = merged["term"].str.len().clip(upper=TLEN_CAP).to_numpy(np.int32)
    schema = pa.schema([
        ("term", pa.string()), ("df", pa.int64()), ("total_tf", pa.int64()),
        ("n_chunks", pa.int64()), ("max_tf", pa.int32()),
        ("tbucket", pa.int32()),
    ])
    name = f"term_stats_b{bid:05d}"
    root = os.path.join(vdir, name)
    os.makedirs(root, exist_ok=True)
    for k in np.unique(tlen):
        sub = merged[tlen == k]  # already term-sorted (groupby sort=True)
        tbl = pa.Table.from_arrays(
            [
                pa.array(sub["term"].to_numpy(object), pa.string()),
                pa.array(sub["df"].to_numpy(np.int64)),
                pa.array(sub["total_tf"].to_numpy(np.int64)),
                pa.array(sub["n_chunks"].to_numpy(np.int64)),
                pa.array(sub["max_tf"].to_numpy(np.int32)),
                pa.array(sub["tbucket"].to_numpy(np.int32)),
            ],
            schema=schema,
        )
        d = os.path.join(root, f"tlen={int(k)}")
        os.makedirs(d, exist_ok=True)
        papq.write_table(tbl, os.path.join(d, "part-0.parquet"))
    return name


def _update_term_stats(
    spark: SparkSession, vdir: str, n_buckets: int, bid: int,
    prev_dir: str, delta_dir: str,
) -> str:
    """Incremental dictionary publish for appends: aggregate ONLY the new
    batch's postings and merge with the previous dictionary — every stat
    is associative (df/total_tf/n_chunks are sums over chunks, max_tf is
    a max), so the result is bit-equal to a full re-aggregation while the
    cost drops from O(all postings ever) to O(vocab + batch). At 10^12
    turns a full-corpus dictionary pass per micro-batch would dwarf the
    append itself (Lucene pays O(segment dictionary) per flush for the
    same reason). Replay-safe: append_batch's committed-epoch early
    return fires before this, and a replay of an UNcommitted epoch reads
    the previous dictionary (the manifest never flipped), so the delta is
    counted exactly once. Merges/compactions still use the full
    ``_rebuild_term_stats`` (postings shrink; subtraction is not
    associative).

    Size dispatch: small dictionaries (footer row counts, no data read)
    merge driver-side (``_update_term_stats_local``); large ones run the
    distributed union+groupBy below."""
    import pyarrow.dataset as pads

    prev_rows = pads.dataset(
        os.path.join(vdir, prev_dir), partitioning="hive", format="parquet"
    ).count_rows()
    delta_rows = pads.dataset(
        delta_dir, partitioning="hive", format="parquet"
    ).count_rows()
    if prev_rows + delta_rows <= DICT_DRIVER_MAX_ROWS:
        return _update_term_stats_local(
            vdir, n_buckets, bid, prev_dir, delta_dir)
    prev = spark.read.parquet(os.path.join(vdir, prev_dir)).select(
        "term", "df", "total_tf", "n_chunks", "max_tf"
    )
    delta = _term_stats_agg(spark.read.parquet(delta_dir))
    merged = (
        prev.unionByName(delta.select("term", "df", "total_tf", "n_chunks", "max_tf"))
        .groupBy("term")
        .agg(
            F.sum("df").alias("df"),
            F.sum("total_tf").alias("total_tf"),
            F.sum("n_chunks").alias("n_chunks"),
            F.max("max_tf").alias("max_tf"),
        )
    )
    return _write_term_stats(merged, vdir, n_buckets, bid)


def _rebuild_term_stats(spark: SparkSession, vdir: str, n_buckets: int, bid: int) -> str:
    """Recompute the term dictionary into a NEW versioned directory and
    return its name (recorded in the manifest as ``term_stats_dir``).
    The previous directory is left in place (open searchers hold cached
    file indexes over it — an in-place os.replace would break live
    readers with FileNotFoundException); append_batch expires dirs older
    than current+previous, so snapshots stay valid for ONE subsequent
    append (refresh() within that horizon, Iceberg-expiry style) and
    disk growth is bounded at two dictionary copies."""
    postings = spark.read.parquet(os.path.join(vdir, "postings"))
    return _write_term_stats(_term_stats_agg(postings), vdir, n_buckets, bid)


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
    results are masked; compaction = full rebuild/blue-green swap)."""
    vdir = catalog.current_version_dir(index_dir)
    ds = spark.read.parquet(os.path.join(vdir, "doc_stats"))
    ords = [
        int(r["doc_ord"])
        for r in ds.filter(F.col("doc_id").isin(doc_ids)).select("doc_ord").collect()
    ]
    path = os.path.join(vdir, "tombstones.json")
    cur = set(catalog.read_json(path)["doc_ords"]) if os.path.exists(path) else set()
    cur.update(ords)
    catalog.write_json(path, {"doc_ords": sorted(cur)})
    return len(ords)


def delete_where(spark: SparkSession, index_dir: str, predicate) -> int:
    """S10 bulk delete by DataFrame predicate: tombstone every doc whose
    doc_stats row matches ``predicate`` (a Column, or a SQL string passed
    through ``F.expr``) — e.g. ``F.col("conv_id").cast("long") % 7 == 0``
    or ``"role = 'tool' AND ts < timestamp'2023-01-01'"``.

    Unlike ``delete_docs`` (the reference's single/small-batch delete
    surface, which takes a Python id list), no ids ever route through the
    driver: the matched ordinals are written executor-side as a parquet
    tombstone delta (``tombstones_pq/batch=N``), so a delete matching an
    O(corpus) slice is one pushed filter + one column write. Query paths
    read the union of JSON and parquet tombstones (``load_tombstones``);
    compaction (``rebuild_compacted``) clears both."""
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


def _write_tombstone_delta(vdir: str, matched: DataFrame) -> int:
    """Write a (doc_ord) DataFrame as the next executor-side parquet
    tombstone delta (``tombstones_pq/batch=N``); returns the tombstoned
    row count from parquet metadata — no ids ever cross the driver."""
    root = os.path.join(vdir, "tombstones_pq")
    nxt = 0
    if os.path.isdir(root):
        ids = [int(d.split("=", 1)[1]) for d in os.listdir(root) if d.startswith("batch=")]
        nxt = max(ids) + 1 if ids else 0
    out = os.path.join(root, f"batch={nxt}")
    matched.write.mode("overwrite").parquet(out)
    import pyarrow.dataset as pads

    return int(pads.dataset(out, format="parquet").count_rows())


def load_tombstones(vdir: str) -> np.ndarray:
    """Union of the JSON tombstones (id-list deletes) and the parquet
    tombstone deltas (predicate deletes), sorted + deduped. Driver cost is
    O(deleted docs) — the same asymptotics as Lucene's liveDocs bitset."""
    parts = []
    path = os.path.join(vdir, "tombstones.json")
    if os.path.exists(path):
        parts.append(np.asarray(catalog.read_json(path)["doc_ords"], dtype=np.int64))
    pq = os.path.join(vdir, "tombstones_pq")
    if os.path.isdir(pq):
        import pyarrow.dataset as pads

        parts.append(
            pads.dataset(pq, format="parquet")
            .to_table(columns=["doc_ord"])["doc_ord"]
            .to_numpy()
            .astype(np.int64)
        )
    if not parts:
        return np.zeros(0, dtype=np.int64)
    return np.unique(np.concatenate(parts))


# kept for backward compatibility: the threshold now lives in
# planlimits.IN_LITERAL_MAX, shared with the query engine's stored-
# fields point-read so the plan-bloat cutoff cannot silently diverge
from ..planlimits import IN_LITERAL_MAX as TOMBSTONE_ISIN_MAX  # noqa: E402


def mask_tombstones(df: DataFrame, tombstones, threshold: int = TOMBSTONE_ISIN_MAX) -> DataFrame:
    """Filter tombstoned ``doc_ord`` rows out of a doc-keyed DataFrame
    (pushed IN-literal below the shared threshold, broadcast anti-join
    above — see ``planlimits.mask_ordinals``)."""
    from ..planlimits import drop_ordinals

    return drop_ordinals(df, tombstones, threshold=threshold)


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
    tombstones (the new version directory simply has no tombstones.json),
    and the previous version left intact on disk for instant rollback.

    Distributed end to end: the live-doc scan is a Spark filter over
    doc_stats and the rebuild is the ordinary ``build_index`` dataflow —
    no driver materialization at any corpus size."""
    from ..index.build import build_index

    vdir = catalog.current_version_dir(index_dir)
    if vdir is None:
        raise FileNotFoundError(f"no published index in {index_dir}")
    manifest = catalog.read_json(os.path.join(vdir, "manifest.json"))
    tombs = load_tombstones(vdir)
    live = mask_tombstones(spark.read.parquet(os.path.join(vdir, "doc_stats")), tombs)
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
