#!/usr/bin/env python
"""End-to-end quickstart: everything a reference (es-indexer) user does,
on the PySpark engine — build an inverted index over transcripts, query
it (BM25 / phrase / suggest), ingest a deduplicated stream increment,
and delete + merge to reclaim the deleted turns.

    python examples/quickstart.py            # ~1 min on local[8]
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from es_indexer_spark import get_spark
from es_indexer_spark.corpus import synth_transcripts, _vocabulary
from es_indexer_spark.index.build import build_index
from es_indexer_spark.query.engine import IndexSearcher
from es_indexer_spark.streaming.incremental import incremental_index


def main() -> None:
    spark = get_spark(app_name="quickstart", master="local[8]", shuffle_partitions=8)
    v = _vocabulary()

    # 1. build: 100k turns of seeded multi-turn transcripts -> versioned index
    idx = tempfile.mkdtemp(prefix="quickstart_idx_")
    corpus = synth_transcripts(spark, n_convs=10_000, turns_per_conv=10, seed=42)
    res = build_index(spark, corpus, idx, n_buckets=32, with_positions=True)
    print(f"built: {res.n_docs} turns, avgdl={res.avgdl:.1f} -> {res.version_dir}")

    # 2. query: BM25 top-k, phrase, suggest — driver path (ms) and the
    #    segment-parallel distributed path produce rank-identical results
    s = IndexSearcher(spark, idx)
    top = s.search([str(v[5]), str(v[9])], k=5)
    print("\ntop-5 BM25:")
    print(top[["conv_id", "turn_idx", "score"]].to_string(index=False))
    print("\nphrase hits:", len(s.phrase_search(f"{v[0]} {v[1]}", k=100)))
    print("suggest:", s.suggest(str(v[3])[:3], k=3)[["conv_id", "score"]].values.tolist())
    print("distributed top-1:",
          s.search_df([str(v[5])], k=1).collect()[0]["conv_id"])

    # 3. stream ingest: new conversations arrive (some replayed) ->
    #    dedup-gated, exactly-once incremental append
    drop = synth_transcripts(spark, n_convs=10_500, turns_per_conv=10, seed=42).filter(
        "conv_id >= 'conv00010000'"
    )
    src = tempfile.mkdtemp(prefix="quickstart_drop_")
    drop.write.mode("overwrite").parquet(src + "/d1")
    drop.limit(200).write.mode("overwrite").parquet(src + "/d2")  # replay
    stream = spark.readStream.schema(drop.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(src)
    incremental_index(
        stream, idx, tempfile.mkdtemp(prefix="quickstart_ck_"), dedup=8
    ).awaitTermination(120)
    s2 = IndexSearcher(spark, idx)
    print(f"\nafter stream ingest: {s2.n_docs} turns (+{s2.n_docs - res.n_docs})")

    # 3b. maintenance: delete a slice, then reclaim it with a tiered
    #     merge (expunge-deletes, no full rebuild; ES _forcemerge shape)
    from es_indexer_spark.index.merge import force_merge
    from es_indexer_spark.streaming.incremental import delete_where

    delete_where(spark, idx, "turn_idx = 9")
    m = force_merge(spark, idx, max_segments=1, expunge=True)
    s3 = IndexSearcher(spark, idx)
    print(f"merged {m['batches_merged']} segments, expunged "
          f"{m['docs_expunged']} deleted turns -> {s3.n_docs} live")

    spark.stop()


if __name__ == "__main__":
    main()
