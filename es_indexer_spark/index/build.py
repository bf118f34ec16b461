"""Distributed inverted-index build — the Spark re-expression of the
reference's bulk indexing path (``IndexerMetadataServiceImpl
.indexAllMetadataRecordsFromGeoNetwork``, IndexerMetadataServiceImpl.java:476-662:
scan → transform → analyze → batch → bulk upsert → validate → atomic alias
swap), with the Lucene posting-format work ES did for the reference
(inverted index + compressed postings + skip/impact data, implied by every
``"type": "text"`` field in ``portal_records_index_schema.json``) done here
from scratch.

Dataflow (all DataFrame ops; Python only in Arrow-vectorized kernels):

1. doc ordinals: dense int64 rank in stable (conv_id, turn_idx) order
   (two-pass range-partition scheme in ``corpus.assign_doc_ordinals``).
2. ``doc_stats`` parquet: (doc_ord, doc_id, conv_id, turn_idx, role, tool,
   dl, text), ordinal-ordered — the docvalues/norms + stored-fields
   analogue. No extra shuffle: ordinal assignment already range-partitions.
3. tokenize pass (``mapInPandas``) over doc_stats slices → GROUPED rows:
   one row per (term, seg) per Arrow batch carrying array columns
   (doc_ords, tfs, dls[, positions]). This is map-side combine at the
   posting-run level: the term string is shuffled once per batch instead
   of once per posting, and array columns cross the JVM↔Arrow boundary
   columnar (measured 30x cheaper than row-per-posting with a nullable
   array column at sf0.1).
4. shuffle-by-term: ``repartition(n, "tbucket", "seg")``. ``seg`` is a
   contiguous doc-ordinal range, so a hot term's postings (stop-word-like
   df) are split across segments and re-assembled at query time by simple
   ordered concatenation — the salted-key skew mitigation demanded by the
   north_rule, with zero-cost merge because the salt ranges are disjoint
   and ordered.
5. per-partition vectorized encode (numpy, ``codec``): delta+varint doc
   gaps, varint tfs, per-128-posting block metadata (last_doc, max_tf,
   min_dl) for block-max pruning; one encode pass per Arrow batch, all
   terms at once.
6. write ``postings`` parquet partitioned by (batch, tbucket) — term
   lookups prune to one bucket directory, and each batch directory is
   overwritten idempotently so a re-run after a mid-batch crash cannot
   duplicate rows (the retry-until-success idempotence of
   ``IndexServiceImpl.java:167-221``, done the Spark way).
7. per-batch checkpoint JSON with per-segment lineage + metrics (turns
   tokenized, postings emitted, bytes compressed) — the ``-running`` alias
   + ``beginWithUuid`` resume marker analogue
   (``IndexerMetadataServiceImpl.java:478-523``). Resume skips completed
   batches.
8. ``term_stats/batch=<b>`` (term → df, total_tf) of each batch's own
   postings, written right after them (``write_term_stats``) and
   hive-partitioned by capped term length, term-sorted within — the
   batch's term dictionary (fuzzy length bands = partition pruning,
   prefix scans = parquet row-group range pruning); readers sum it
   across batches.
9. validation gate (indexed count == source count; stricter than the
   reference's >=90 % at ``IndexerMetadataServiceImpl.java:651-655``) then
   atomic CURRENT swap (``catalog.publish_version``).
"""

from __future__ import annotations

import os
import time
import zlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import codec
from ..analysis import term_freqs_batch
from ..corpus import assign_doc_ordinals, with_doc_ids
from . import catalog


def _enc_schema(with_positions: bool) -> T.StructType:
    fields = [
        T.StructField("tbucket", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("seg", T.IntegerType(), False),
        T.StructField("min_doc", T.LongType(), False),
        T.StructField("max_doc", T.LongType(), False),
        T.StructField("df_chunk", T.LongType(), False),
        T.StructField("sum_tf", T.LongType(), False),
        T.StructField("doc_bytes", T.BinaryType(), False),
        T.StructField("tf_bytes", T.BinaryType(), False),
        T.StructField("block_last", T.ArrayType(T.LongType()), False),
        T.StructField("block_max_tf", T.ArrayType(T.IntegerType()), False),
        T.StructField("block_min_dl", T.ArrayType(T.IntegerType()), False),
        # delta runs inside the chunk: each run's first doc gap is absolute.
        # Map-side encoding emits single-run chunks; the reduce merge
        # concatenates runs WITHOUT re-encoding (disjoint ordered ranges),
        # and the decoder resets the cumsum at each run start.
        T.StructField("run_lens", T.ArrayType(T.LongType()), False),
    ]
    if with_positions:
        fields.append(T.StructField("pos_bytes", T.BinaryType(), True))
    return T.StructType(fields)


def term_bucket(term: str, n_buckets: int) -> int:
    """Deterministic term → directory bucket (crc32 — stable across runs,
    processes and executors, unlike the salted builtin hash)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def term_bucket_col(n_buckets: int, term_col: str = "term"):
    """JVM-side mirror of ``term_bucket``: Spark's ``crc32`` is the same
    CRC-32 polynomial as ``zlib.crc32`` (asserted in tests), so the bucket
    assignment stays whole-stage-codegen'd instead of a per-row Python
    UDF."""
    return (F.crc32(F.encode(F.col(term_col), "UTF-8")) % n_buckets).cast("int")


# term_stats is hive-partitioned by capped term length: fuzzy-AUTO
# expansion (|len(term) - len(q)| <= d) becomes a PARTITION filter —
# the dictionary scan never opens or reads dictionary files outside the
# length band, the columnar analogue of Lucene's FST automaton walk
# pruning the TermsEnum (IndexerServiceIT.java:219-238 exercises
# fuzziness AUTO). Prefix expansion gains tlen >= len(prefix) for free.
# The cap bounds directory fan-out; terms at the cap share one partition
# and fall through to the exact length+levenshtein filters.
TLEN_CAP = 32


def term_len_col(term_col: str = "term"):
    return F.least(F.length(term_col), F.lit(TLEN_CAP)).cast("int")


def term_len_band(qlen: int, d: int) -> tuple[int, int]:
    """Inclusive tlen partition bounds for edit distance ``d`` around a
    query of length ``qlen`` (capped — at the cap the band is a superset
    and the exact filters decide)."""
    return max(0, min(qlen - d, TLEN_CAP)), min(qlen + d, TLEN_CAP)


# batch dictionaries of at most this many posting-chunk rows (parquet
# footer counts, no data read) are aggregated on the driver through
# pyarrow — ~50 ms for a micro-batch instead of a multi-stage Spark job;
# larger batches run the Spark groupBy. Both write the same layout.
DICT_DRIVER_MAX_ROWS = 2_000_000


def write_term_stats(spark: SparkSession, postings_dir: str, out_dir: str) -> None:
    """Write the term dictionary of ONE batch: (term, df, total_tf) summed
    over the batch's posting chunks in ``postings_dir``, into ``out_dir``
    (``term_stats/batch=<bid>``, overwritten), hive-partitioned by capped
    term length and term-sorted within each ``tlen=K`` file. Every batch
    owns its dictionary, Lucene's per-segment term statistics; readers
    sum df and total_tf across the batches of their snapshot
    (``IndexSearcher``). Build, append and merge all write through here,
    so a write's dictionary work is O(batch)."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    import pyarrow.parquet as papq

    ds = pads.dataset(postings_dir, partitioning="hive", format="parquet")
    n_rows = ds.count_rows()
    if n_rows > DICT_DRIVER_MAX_ROWS:
        (
            spark.read.parquet(postings_dir)
            .groupBy("term")
            .agg(F.sum("df_chunk").alias("df"), F.sum("sum_tf").alias("total_tf"))
            .withColumn("tlen", term_len_col())
            # hash on tlen, not repartitionByRange (whose sampling pass
            # re-runs the aggregation): one term-sorted file per tlen dir
            .repartition(min(TLEN_CAP + 1, spark.sparkContext.defaultParallelism), "tlen")
            .sortWithinPartitions("tlen", "term")
            .write.mode("overwrite")
            .partitionBy("tlen")
            .parquet(out_dir)
        )
        return
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    if not n_rows:
        return
    agg = ds.to_table(columns=["term", "df_chunk", "sum_tf"]).group_by("term").aggregate(
        [("df_chunk", "sum"), ("sum_tf", "sum")]
    )
    tbl = pa.table({
        "term": agg["term"], "df": agg["df_chunk_sum"], "total_tf": agg["sum_tf_sum"],
    }).sort_by("term")
    tlen = pc.min_element_wise(pc.utf8_length(tbl["term"]), TLEN_CAP).to_numpy()
    for k in np.unique(tlen):
        d = os.path.join(out_dir, f"tlen={k}")
        os.makedirs(d)
        papq.write_table(tbl.filter(tlen == k), os.path.join(d, "part-0.parquet"))


def _encode_positions_flat(
    pos_flat: np.ndarray, counts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized positional encoding for MANY docs at once: returns
    (stream, doc_start_offsets_in_stream) where stream is the
    concatenation of per-doc [npos, first_pos, pos_delta...] blocks —
    byte-compatible with codec.encode_positions/decode_positions."""
    n_docs = len(counts)
    doc_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    deltas = pos_flat.astype(np.int64, copy=True)
    if len(pos_flat):
        deltas[1:] = pos_flat[1:] - pos_flat[:-1]
        deltas[doc_starts] = pos_flat[doc_starts]
    out = np.empty(n_docs + len(pos_flat), dtype=np.uint64)
    out_doc_starts = doc_starts + np.arange(n_docs)
    mask = np.ones(len(out), dtype=bool)
    mask[out_doc_starts] = False
    out[out_doc_starts] = counts.astype(np.uint64)
    out[mask] = deltas.astype(np.uint64)
    return out, out_doc_starts


def encode_flat(
    terms_g: np.ndarray,
    segs_g: np.ndarray,
    tbuckets_g: np.ndarray,
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    gstarts: np.ndarray,
    with_positions: bool = False,
    pos_flat: np.ndarray | None = None,
) -> pd.DataFrame:
    """Vectorized encode of FLAT posting arrays pre-sorted by
    (term, seg, doc): ``gstarts`` marks the first value of each
    (term, seg) group, ``terms_g``/``segs_g``/``tbuckets_g`` are the
    per-group identities. Emits one posting-chunk row per group. A group
    that spans Arrow batches yields several chunk rows with disjoint
    ordered doc ranges — readers concatenate chunks sorted by
    (seg, min_doc), so batch splits are harmless."""
    out_cols = [f.name for f in _enc_schema(with_positions).fields]
    n = len(docs)
    if n == 0:
        return pd.DataFrame({c: [] for c in out_cols})
    gends = np.append(gstarts[1:], n)
    glens = gends - gstarts

    gaps = codec.delta_encode_segmented(docs, gstarts)
    doc_nb = codec.varint_nbytes(gaps)
    doc_buf = codec.varint_encode(gaps)
    doc_gb = np.add.reduceat(doc_nb, gstarts)
    doc_off = np.concatenate(([0], np.cumsum(doc_gb)[:-1]))

    utf = tfs.astype(np.uint64)
    tf_nb = codec.varint_nbytes(utf)
    tf_buf = codec.varint_encode(utf)
    tf_gb = np.add.reduceat(tf_nb, gstarts)
    tf_off = np.concatenate(([0], np.cumsum(tf_gb)[:-1]))

    # per-group blocks of BLOCK_SIZE postings
    pos_in_g = np.arange(n, dtype=np.int64) - np.repeat(gstarts, glens)
    bstarts = np.flatnonzero(pos_in_g % codec.BLOCK_SIZE == 0)
    bends = np.append(bstarts[1:], n)
    blk_last = docs[bends - 1]
    blk_maxtf = np.maximum.reduceat(tfs, bstarts).astype(np.int32)
    blk_mindl = np.minimum.reduceat(dls, bstarts).astype(np.int32)
    gid_vals = np.repeat(np.arange(len(gstarts)), glens)
    nblocks = np.bincount(gid_vals[bstarts], minlength=len(gstarts))

    # list/binary columns built DIRECTLY as Arrow arrays from (values,
    # offsets) — zero per-group Python objects; np.split here cost ~50%
    # of the whole map kernel at 10^5 groups/batch, the Arrow
    # construction is ~10x cheaper and Spark's serializer consumes
    # ArrowDtype pandas columns natively
    ng = len(gstarts)

    def _offsets32(counts: np.ndarray, what: str) -> np.ndarray:
        # Arrow binary/list offsets are int32: prove the batch fits BEFORE
        # the downcast — a silent cumsum wrap would corrupt postings with
        # no error. One Arrow batch past 2 GiB means the upstream
        # partitioning is wrong (maxRecordsPerBatch / shuffle partitions),
        # so fail loudly with the remedy.
        c64 = np.concatenate(([0], np.cumsum(counts, dtype=np.int64)))
        if c64[-1] >= 2**31:
            raise ValueError(
                f"encoded {what} exceed int32 Arrow offsets in one batch "
                f"({c64[-1]} bytes/items): lower "
                f"spark.sql.execution.arrow.maxRecordsPerBatch or raise "
                f"shuffle partitions"
            )
        return c64.astype(np.int32)

    def _list_col(values: np.ndarray, counts: np.ndarray, patype):
        offs = _offsets32(counts, "list items")
        la = pa.ListArray.from_arrays(pa.array(offs), pa.array(values, type=patype))
        return pd.Series(la, dtype=pd.ArrowDtype(pa.list_(patype)))

    def _bin_col(buf: np.ndarray, group_bytes: np.ndarray):
        offs = _offsets32(group_bytes, "binary bytes")
        ba = pa.BinaryArray.from_buffers(
            pa.binary(), ng, [None, pa.py_buffer(offs), pa.py_buffer(buf)]
        )
        return pd.Series(ba, dtype=pd.ArrowDtype(pa.binary()))

    out = {
        "tbucket": tbuckets_g,
        "term": terms_g,
        "seg": segs_g,
        "min_doc": docs[gstarts],
        "max_doc": docs[gends - 1],
        "df_chunk": glens.astype(np.int64),
        "sum_tf": np.add.reduceat(tfs.astype(np.int64), gstarts),
        "doc_bytes": _bin_col(doc_buf, doc_gb),
        "tf_bytes": _bin_col(tf_buf, tf_gb),
        "block_last": _list_col(blk_last, nblocks, pa.int64()),
        "block_max_tf": _list_col(blk_maxtf, nblocks, pa.int32()),
        "block_min_dl": _list_col(blk_mindl, nblocks, pa.int32()),
        "run_lens": _list_col(glens.astype(np.int64), np.ones(ng, np.int64), pa.int64()),
    }
    if with_positions:
        stream, out_doc_starts = _encode_positions_flat(
            pos_flat.astype(np.int64), tfs.astype(np.int64)
        )
        p_nb = codec.varint_nbytes(stream)
        p_buf = codec.varint_encode(stream)
        # group g covers docs [gstarts[g], gends[g]) → stream slice between
        # the doc-start offsets of its first doc and the next group's first
        stream_starts = out_doc_starts[gstarts]
        byte_pos = np.concatenate(([0], np.cumsum(p_nb)))
        bounds = byte_pos[np.append(stream_starts, len(stream))]
        out["pos_bytes"] = _bin_col(p_buf, np.diff(bounds))
    return pd.DataFrame(out)[out_cols]


def _phase_timer(phase: str):
    """Optional per-phase kernel timing (ES_IDX_PHASE_TIMING_DIR): each
    task appends one '<phase>,<wall_s>,<cpu_s>,<rows>' line on completion.
    Wall (perf_counter) inflates when the host deschedules the worker;
    process CPU (process_time) counts only cycles actually burned — the
    pair separates "kernels don't scale" from "the box was oversubscribed"
    in scaling_run.py's breakdown."""
    tdir = os.environ.get("ES_IDX_PHASE_TIMING_DIR")

    class _T:
        acc = 0.0  # wall seconds inside the kernel
        cpu0 = time.process_time()
        rows = 0

        def flush(self):
            if tdir and self.rows:
                import tempfile as _tf

                cpu = time.process_time() - self.cpu0
                fd, _ = _tf.mkstemp(prefix=f"{phase}_", suffix=".csv", dir=tdir)
                with os.fdopen(fd, "w") as f:
                    f.write(f"{phase},{self.acc:.6f},{cpu:.6f},{self.rows}\n")

    return _T()


def _tokenize_encode(
    docs: DataFrame, n_docs: int, n_segments: int, n_buckets: int,
    with_positions: bool, analyzer: str = "index",
) -> DataFrame:
    """Fused map stage: tokenize → group → ENCODE, all inside one Python
    pass. The shuffle then carries delta+varint bytes instead of posting
    arrays (~4-5x fewer bytes and far cheaper JVM↔Arrow serde), and the
    reduce side merges sub-runs by byte concatenation — no re-encode."""
    schema = _enc_schema(with_positions)

    def gen(batches):
        from ..analysis import term_freqs_arrays

        tm = _phase_timer("tokenize_encode")
        for pdf in batches:
            _t0 = time.perf_counter()
            batch_ords = pdf["doc_ord"].to_numpy(np.int64)
            g = term_freqs_arrays(pdf["text"], with_positions=with_positions,
                                  analyzer=analyzer)
            tcodes = g["tcode"]
            if len(tcodes) == 0:
                tm.acc += time.perf_counter() - _t0
                continue
            ords = batch_ords[g["row"]]
            segs = np.minimum(ords * n_segments // n_docs, n_segments - 1).astype(np.int32)
            # sort/group on batch-local integer term codes, not strings —
            # group identity is all the encoder needs, and the downstream
            # shuffle re-sorts by term string anyway. Groups arrive
            # (row, tcode)-sorted, so when the batch's doc_ords ascend
            # (doc_stats is written ordinal-ordered) a STABLE single-key
            # sort on tcode already yields ascending ords (and segs, a
            # monotone function of ord) within every group — one radix
            # pass instead of the 3-key lexsort; the lexsort stays as the
            # fallback for unordered input.
            if np.all(batch_ords[1:] >= batch_ords[:-1]):
                order = np.argsort(tcodes, kind="stable")
            else:
                order = np.lexsort((ords, segs, tcodes))
            tcodes, segs, ords = tcodes[order], segs[order], ords[order]
            tfs = g["tf"][order]
            dls = g["dl"][order]
            new_g = np.ones(len(tcodes), dtype=bool)
            new_g[1:] = (tcodes[1:] != tcodes[:-1]) | (segs[1:] != segs[:-1])
            gstarts = np.flatnonzero(new_g)
            uniq_terms = g["uniq_terms"]
            gcodes = tcodes[gstarts]
            terms_g = uniq_terms[gcodes]
            # bucket per DISTINCT term (vocab-sized python work), gathered
            # to groups by integer code — never per-group dict lookups
            buckets_of = np.fromiter(
                (term_bucket(t, n_buckets) for t in uniq_terms),
                dtype=np.int32, count=len(uniq_terms),
            )
            tbuckets_g = buckets_of[gcodes]
            pos_flat = None
            if with_positions:
                # positions are stored (row, tcode)-group-ordered; gather
                # whole groups through the sort permutation
                parts = np.split(g["positions"], g["pos_splits"])
                plists = np.empty(len(parts), dtype=object)
                plists[:] = parts
                pos_flat = np.concatenate(plists[order]).astype(np.int64)
            res = encode_flat(
                terms_g, segs[gstarts], tbuckets_g, ords, tfs, dls, gstarts,
                with_positions, pos_flat,
            )
            tm.acc += time.perf_counter() - _t0
            tm.rows += len(pdf)
            yield res
        tm.flush()

    return docs.select("doc_ord", "text").mapInPandas(gen, schema)


def merge_chunks(pdf: pd.DataFrame, with_positions: bool = False) -> pd.DataFrame:
    """Reduce-side merge of pre-encoded sub-run chunks, pre-sorted by
    (term, seg, min_doc): consecutive rows of one (term, seg) collapse into
    a single chunk by BYTE CONCATENATION (runs are disjoint ordered doc
    ranges, each run's first gap absolute) — no varint decode/encode."""
    out_cols = [f.name for f in _enc_schema(with_positions).fields]
    n = len(pdf)
    if n == 0:
        return pd.DataFrame({c: [] for c in out_cols})
    terms = pdf["term"].to_numpy(object)
    segs = pdf["seg"].to_numpy(np.int32)
    new_g = np.ones(n, dtype=bool)
    new_g[1:] = (terms[1:] != terms[:-1]) | (segs[1:] != segs[:-1])
    starts = np.flatnonzero(new_g)
    ends = np.append(starts[1:], n)
    doc_b = pdf["doc_bytes"].to_numpy(object)
    tf_b = pdf["tf_bytes"].to_numpy(object)
    bl = pdf["block_last"].to_numpy(object)
    bmt = pdf["block_max_tf"].to_numpy(object)
    bmd = pdf["block_min_dl"].to_numpy(object)
    rl = pdf["run_lens"].to_numpy(object)
    out = {
        "tbucket": pdf["tbucket"].to_numpy(np.int32)[starts],
        "term": terms[starts],
        "seg": segs[starts],
        "min_doc": pdf["min_doc"].to_numpy(np.int64)[starts],
        "max_doc": pdf["max_doc"].to_numpy(np.int64)[ends - 1],
        "df_chunk": np.add.reduceat(pdf["df_chunk"].to_numpy(np.int64), starts),
        "sum_tf": np.add.reduceat(pdf["sum_tf"].to_numpy(np.int64), starts),
        "doc_bytes": [b"".join(doc_b[a:b]) for a, b in zip(starts, ends)],
        "tf_bytes": [b"".join(tf_b[a:b]) for a, b in zip(starts, ends)],
        "block_last": [np.concatenate(bl[a:b]) for a, b in zip(starts, ends)],
        "block_max_tf": [np.concatenate(bmt[a:b]) for a, b in zip(starts, ends)],
        "block_min_dl": [np.concatenate(bmd[a:b]) for a, b in zip(starts, ends)],
        "run_lens": [np.concatenate(rl[a:b]) for a, b in zip(starts, ends)],
    }
    if with_positions:
        pos_b = pdf["pos_bytes"].to_numpy(object)
        out["pos_bytes"] = [b"".join(pos_b[a:b]) for a, b in zip(starts, ends)]
    return pd.DataFrame(out)[out_cols]


def _timed_merge(it, with_positions: bool):
    tm = _phase_timer("merge_chunks")
    for pdf in it:
        _t0 = time.perf_counter()
        res = merge_chunks(pdf, with_positions)
        tm.acc += time.perf_counter() - _t0
        tm.rows += len(pdf)
        yield res
    tm.flush()


@dataclass
class BuildResult:
    version_dir: str
    n_docs: int
    avgdl: float
    total_tokens: int
    batches_run: int = 0
    batches_skipped: int = 0
    metrics: dict = field(default_factory=dict)


def _doc_range_for_batch(b: int, n_batches: int, n_segments: int, n_docs: int):
    """Contiguous doc_ord range covered by batch b (seg is a pure function
    of doc_ord, so batches slice the ordinal space, and each batch
    tokenizes its slice exactly once)."""
    s0 = b * n_segments // n_batches
    s1 = (b + 1) * n_segments // n_batches
    lo = (s0 * n_docs + n_segments - 1) // n_segments
    hi = n_docs if b == n_batches - 1 else (s1 * n_docs + n_segments - 1) // n_segments
    return lo, hi, s0, s1


def build_index(
    spark: SparkSession,
    df: DataFrame,
    index_dir: str,
    *,
    n_buckets: int = 64,
    n_segments: int | None = None,
    n_batches: int = 1,
    with_positions: bool = False,
    resume: bool = True,
    publish: bool = True,
    input_sorted: bool = False,
    analyzer: str = "index",
    validate_source: bool = False,
) -> BuildResult:
    """Build (or resume) an index version over a transcript DataFrame
    (conv_id, turn_idx, role, text, tool, ts) and atomically publish it.

    ``input_sorted=True`` declares the input already globally ordered by
    (conv_id, turn_idx) across partitions (the standard layout for this
    table), skipping the ordinal-assignment shuffle."""
    t_ord = time.time()
    docs = assign_doc_ordinals(with_doc_ids(df), assume_sorted=input_sorted)
    n_docs = docs._total_count
    ordinals_s = round(time.time() - t_ord, 3)  # counting pass + persist
    if n_segments is None:
        # ~1M docs per segment; always >=1. Segments are the skew-salt
        # ranges, the resume/lineage partitions, the shuffle-key
        # spreader (key cardinality = n_buckets * n_segments must exceed
        # task slots comfortably or hash collisions idle whole cores) AND
        # the query-time scoring parallelism: the distributed top-k
        # cogroups by seg, so a corpus with fewer segments than cores
        # serializes its scoring kernels. At 10^12 turns segments >>
        # cores always holds; the parallelism floor below only matters
        # for corpora small enough that 1M-doc sizing would leave cores
        # idle. Round-6 sweeps (BENCH_NOTES): at 2M turns/32 cores 4 segs
        # -> build 25 s/warm hot 0.79 s; 8 -> 17.7/0.50; 16 -> 12.5/0.48;
        # 32 -> 18.5/0.54. At 10M turns 20 segs -> 52.3/0.87 vs 32 ->
        # 57.8/1.01. Both say the sweet spot sits BELOW the core count:
        # exactly cluster-width segments hash into cluster-width shuffle
        # partitions with birthday collisions (2-3 segments on one task,
        # zero on another — straggler kernels), so the floor targets
        # ~125k docs/segment capped at ~5/8 of the cluster width.
        par = spark.sparkContext.defaultParallelism
        auto = max(
            -(-n_docs // 1_000_000),
            min(max(1, (par * 5) // 8), -(-n_docs // 125_000)),
        )
        n_segments = max(1, min(65536, auto))
    n_segments = max(n_segments, n_batches)
    params = {
        "n_buckets": n_buckets,
        "n_segments": n_segments,
        "n_batches": n_batches,
        "with_positions": with_positions,
        "n_docs": n_docs,
        # next_ord = one past the highest doc ordinal ever allocated. Equal
        # to n_docs until a merge expunges tombstoned docs (index/merge.py),
        # after which n_docs (live rows) < next_ord (ordinal span) — appends
        # MUST allocate from next_ord, never n_docs, or ordinals collide.
        "next_ord": n_docs,
        "analyzer": analyzer,
    }

    vdir = catalog.unpublished_version_dir(index_dir, params) if resume else None
    if vdir is None:
        vdir = catalog.new_version_dir(index_dir)
        catalog.write_json(os.path.join(vdir, "build_params.json"), params)
    ckpt_dir = os.path.join(vdir, "checkpoints")

    # ---- stage 1: doc_stats (stored fields + norms) -----------------------
    doc_stats_path = os.path.join(vdir, "doc_stats")
    ds_ckpt = os.path.join(ckpt_dir, "doc_stats.json")
    sc = spark.sparkContext
    n_parts = max(sc.defaultParallelism, min(n_segments, 1024))
    if not (resume and os.path.exists(ds_ckpt)):
        from ..analysis import doc_lengths, suggest_tokens_series

        def _dl(texts):
            if analyzer == "index":
                return doc_lengths(texts)
            return suggest_tokens_series(texts).map(len).astype("int32")

        dl_udf = F.pandas_udf(_dl, T.IntegerType())
        t0 = time.time()
        (
            # assign_doc_ordinals already range-partitioned and sorted by
            # the ordinal order — no extra shuffle here, just the dl pass
            docs.withColumn("dl", dl_udf("text"))
            .withColumn(
                "seg",
                F.least(
                    (F.col("doc_ord") * n_segments / n_docs).cast("long"),
                    F.lit(n_segments - 1),
                ).cast("int"),
            )
            .select(
                "doc_ord", "doc_id", "conv_id", "turn_idx", "role", "tool",
                "ts", "dl", "seg", "text",
            )
            # batch=0 subdir: incremental appends (streaming/incremental.py)
            # later add sibling batch=N directories idempotently
            .write.mode("overwrite")
            .parquet(os.path.join(doc_stats_path, "batch=0"))
        )
        import pyarrow.dataset as _pads

        dl_tbl = _pads.dataset(doc_stats_path, partitioning="hive").to_table(
            columns=["dl"]
        )
        n_written = dl_tbl.num_rows
        if n_written != n_docs:  # 100% gate (reference uses >=90%)
            raise RuntimeError(f"doc_stats rows {n_written} != source rows {n_docs}")
        total_tokens = int(pd.Series(dl_tbl["dl"].to_numpy(zero_copy_only=False)).sum())
        catalog.write_json(
            ds_ckpt,
            {
                "n_docs": n_docs,
                "total_tokens": total_tokens,
                "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
                "wall_s": round(time.time() - t0, 3),
                "ordinals_s": ordinals_s,
            },
        )
    parent = getattr(docs, "_persisted_parent", None)
    if parent is not None:
        parent.unpersist()
    ds_meta = catalog.read_json(ds_ckpt)
    doc_stats = spark.read.parquet(doc_stats_path)

    # ---- stage 2: postings + their dictionary, one idempotent batch at a time
    postings_root = os.path.join(vdir, "postings")
    result = BuildResult(
        vdir, n_docs, ds_meta["avgdl"], ds_meta["total_tokens"]
    )
    enc_schema = _enc_schema(with_positions)
    for b in range(n_batches):
        bk = os.path.join(ckpt_dir, f"batch_{b:05d}.json")
        if resume and os.path.exists(bk):
            result.batches_skipped += 1
            continue
        t0 = time.time()
        lo, hi, s0, s1 = _doc_range_for_batch(b, n_batches, n_segments, n_docs)
        slice_df = doc_stats.filter(
            (F.col("doc_ord") >= lo) & (F.col("doc_ord") < hi)
        )
        pre = _tokenize_encode(
            slice_df, n_docs, n_segments, n_buckets, with_positions, analyzer
        )
        enc = (
            pre.repartition(n_parts, "tbucket", "seg")
            .sortWithinPartitions("term", "seg", "min_doc")
            .mapInPandas(lambda it: _timed_merge(it, with_positions), enc_schema)
        )
        batch_path = os.path.join(postings_root, f"batch={b}")
        enc.write.mode("overwrite").partitionBy("tbucket").parquet(batch_path)

        # lineage + metrics per segment, from the data actually written —
        # a driver-side pyarrow pass over the batch (columnar, no Spark
        # job). Streamed per record batch with pc.binary_length: the old
        # to_table + pandas .str.len() materialized every encoded posting
        # byte in driver memory (O(index bytes) resident at 10M-doc
        # builds — guide §5)
        import pyarrow.compute as _pc
        import pyarrow.dataset as _pads

        bin_cols = ["doc_bytes", "tf_bytes"] + (
            ["pos_bytes"] if with_positions else [])
        parts: list[pd.DataFrame] = []
        for rb in _pads.dataset(batch_path, partitioning="hive").to_batches(
            columns=["seg", "df_chunk"] + bin_cols
        ):
            nb = np.zeros(rb.num_rows, dtype=np.int64)
            for c in bin_cols:
                nb += _pc.binary_length(rb.column(c)).to_numpy(
                    zero_copy_only=False).astype(np.int64)
            parts.append(pd.DataFrame({
                "seg": rb.column("seg").to_numpy(zero_copy_only=False),
                "postings": rb.column("df_chunk").to_numpy(
                    zero_copy_only=False),
                "bytes": nb,
            }))
        wpdf = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(
            {"seg": [], "postings": [], "bytes": []})
        agg = wpdf.groupby("seg").agg(
            chunks=("postings", "size"), postings=("postings", "sum"),
            bytes=("bytes", "sum"),
        )
        # the batch's own dictionary, before its checkpoint: resume skips both
        t_dict = time.time()
        write_term_stats(spark, batch_path, os.path.join(vdir, "term_stats", f"batch={b}"))
        turns = hi - lo  # ordinals are dense, so the slice size is exact
        segs = {
            str(int(seg)): {
                "chunks": int(row["chunks"]),
                "postings": int(row["postings"]),
                "bytes_compressed": int(row["bytes"]),
            }
            for seg, row in agg.iterrows()
        }
        catalog.write_json(
            bk,
            {
                "batch": b,
                "doc_ord_range": [lo, hi],
                "seg_range": [s0, s1],
                "turns_tokenized": turns,
                "postings_emitted": int(sum(s["postings"] for s in segs.values())),
                "bytes_compressed": int(sum(s["bytes_compressed"] for s in segs.values())),
                "segments": segs,
                "wall_s": round(t_dict - t0, 3),
                "term_stats_s": round(time.time() - t_dict, 3),
            },
        )
        result.batches_run += 1
    # the build's term_stats stage: the batches' summed dictionary time
    dict_s = sum(
        catalog.read_json(os.path.join(ckpt_dir, f"batch_{b:05d}.json"))["term_stats_s"]
        for b in range(n_batches)
    )
    catalog.write_json(os.path.join(ckpt_dir, "term_stats.json"), {"wall_s": round(dict_s, 3)})

    # ---- manifest + atomic publish ----------------------------------------
    postings_total = bytes_total = 0
    for name in os.listdir(ckpt_dir):
        if name.startswith("batch_"):
            ck = catalog.read_json(os.path.join(ckpt_dir, name))
            postings_total += ck["postings_emitted"]
            bytes_total += ck["bytes_compressed"]
    manifest = dict(params)
    manifest.update(
        {
            "avgdl": ds_meta["avgdl"],
            "total_tokens": ds_meta["total_tokens"],
            "postings": postings_total,
            "bytes_compressed": bytes_total,
            # raw = 8B doc ordinal + 4B tf per posting, the uncompressed
            # columnar equivalent the delta+varint codec replaces
            "compression_ratio": round(12.0 * postings_total / max(1, bytes_total), 3),
            "k1": 1.2,
            "b": 0.75,
        }
    )
    catalog.write_json(os.path.join(vdir, "manifest.json"), manifest)
    if validate_source:
        # per-turn text-equality gate before the alias swap (100 %;
        # reference accepts >=90 % — IndexerMetadataServiceImpl.java:651-655)
        from .validate import validate_against_source

        manifest["validation"] = validate_against_source(spark, df, vdir)
        catalog.write_json(os.path.join(vdir, "manifest.json"), manifest)
    if publish:
        catalog.publish_version(index_dir, vdir)
    result.metrics = manifest
    return result
