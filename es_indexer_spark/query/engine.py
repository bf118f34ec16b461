"""IndexSearcher — the retrieval surface of the engine.

Re-expresses the reference's query operators (SURVEY §2.6) over the
parquet index that ``index.build`` writes:

- Q1/Q2  ``ids``/``term`` exact lookup          → ``get`` / doc_stats filter
- Q3     ``match_phrase``                        → positional postings + adjacency
- Q4     ``match_all + sort + search_after``     → ``scan_after`` keyset pagination
- Q5     ``match`` with synonym expansion        → broadcast SynonymSet → OR
- Q6     ``multi_match bool_prefix`` + fuzziness → ``suggest`` (prefix + fuzzy
         expansion against the term dictionary, per-term boosts)
- Q7     count-only                              → ``count``
- Q8     top-k BM25                              → ``search`` (block-max pruned,
         exhaustive referee path), deterministic (score desc, doc_ord asc)
- Q9     ``_analyze``                            → ``analysis.analyze``

One query kernel, two executors, with FULL feature parity (pytest
rank-identity). Every operator builds a ``scoring.Plan`` — the sorted
query terms with their global dfs, the mode, k, the strategy, the phrase
and the term boosts — and ``scoring.evaluate`` / ``scoring.count`` run it:

- **driver executor** (default below ``driver_max_docs``): the kernel
  runs once over the whole corpus against the resident norms. Posting
  chunks are read straight through pyarrow.dataset, by term bucket — a
  bucket's footers are read once per searcher — with no Spark job:
  millisecond latency, the analogue of ES answering a query from one
  coordinating node. While the buckets a searcher has touched fit in
  ``_RESIDENT_POSTINGS_BYTES`` (128 MiB of uncompressed postings), each
  is read whole on first touch and kept resident as flat numpy columns
  (``scoring.ChunkColumns``), so a query term's chunks are an array view
  and its files are never read again — Lucene serving postings from
  whole mmap'd segment files. A bucket that does not fit is served by a
  per-term LRU of ``_CACHE_MAX_TERMS`` terms fetched with a ``term``
  filter; each postings file is one row group today, so that filter
  runs after the file is read, not as row-group pruning (ROADMAP item
  4(b) gives segments term-sorted row groups). Driver memory is
  O(budget) plus the LRU. Valid while per-corpus norms fit the driver.
- **distributed executor** (``search_df`` / ``count_df`` /
  ``phrase_search_df`` / ``suggest_df``): one Spark job of segment tasks
  with no shuffle and nothing persisted. ``spark.range`` over the
  snapshot's segments is mapped with Arrow; each task loops over its
  slice of segments (Lucene's leaf slices), reads with pyarrow, once
  each, the postings files of the plan's term buckets that hold its
  segments (a build checkpoint records each file's segment set), and
  each segment's norms from doc_stats (``_SegmentNorms``, cached in each
  reused Python worker), runs the same kernel per segment and emits a
  local top-k, its full score vector or a count; a global sort of the
  tiny union gathers the final top-k — Lucene's shard fan-out/merge.
  Synonym expansion, term/role/tool boosts, phrase adjacency and counts
  run here with no O(corpus) driver state. Executors read the index path with pyarrow
  exactly as the driver does, so on a cluster the index must sit on a
  filesystem every executor mounts. The public
  ``search``/``count``/``phrase_search``/``suggest`` auto-dispatch
  between executors on corpus size.

Every batch owns its term dictionary (``term_stats/batch=<bid>``, the
df and total_tf of its own postings); a searcher sums them across the
batches of its postings snapshot, as Lucene sums collection statistics
across its segment readers. The dictionary is read one way for both
executors (``_dictionary_slices``), and the same dispatch picks its
source: the resident sorted arrays below ``driver_max_docs``, above it a
pyarrow scan of term_stats pruned by its ``tlen`` partitions and term
row-group statistics, one ``tlen`` partition at a time — no Spark job
either way. Prefix, fuzzy, wildcard and regexp expansion and the global
dfs are each written once over it. On the scan source driver memory is
O(one tlen partition's matching rows + max_expansions); driver CPU is
O(scanned tlen/term range), so a regexp with no literal prefix scans the
whole dictionary on the driver. Python ``re`` is the one pattern dialect
of term expansion.
"""

from __future__ import annotations

import operator
import os
import re
from collections.abc import Callable, Iterable, Iterator
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analysis import SynonymSet, tokenize_py
from ..index import catalog
from ..index.build import TLEN_CAP, term_bucket, term_len_band
from . import scoring

_POSTING_COLS = [
    "term", "seg", "min_doc", "max_doc", "df_chunk",
    "doc_bytes", "tf_bytes", "block_last", "block_max_tf", "block_min_dl",
    "run_lens",
]
_POS_COL = "pos_bytes"  # present only when the index was built with positions
# result schemas as StructTypes, not DDL strings: parsing DDL costs a JVM
# round trip (~6 ms) on every query
_SCORES = T.StructType(
    [T.StructField("doc_ord", T.LongType()), T.StructField("score", T.DoubleType())]
)
_HITS = T.StructType([
    T.StructField("doc_ord", T.LongType()),
    T.StructField("doc_id", T.StringType()),
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("score", T.DoubleType()),
])
_COUNT = T.StructType([T.StructField("n", T.LongType())])
# the top code point: a prefix's terms all sort at or below prefix + this
_MAX_CHAR = "\U0010FFFF"
# term_stats/batch=<bid>/tlen=<K>/*.parquet (index.build.write_term_stats),
# typed explicitly so an index with no terms still opens
_TERM_STATS_SCHEMA = pa.schema([
    ("term", pa.string()), ("df", pa.int64()), ("total_tf", pa.int64()),
    ("batch", pa.int32()), ("tlen", pa.int32()),
])


def _partition_key(fragment, key: str) -> int:
    return pads.get_partition_keys(fragment.partition_expression)[key]


def _sum_by_term(tbl: pa.Table, cols: list[str]) -> pa.Table:
    """``cols`` summed per term: the batch dictionaries' rows of one term
    folded into one row."""
    agg = tbl.group_by("term").aggregate([(c, "sum") for c in cols])
    return pa.table({"term": agg["term"], **{c: agg[f"{c}_sum"] for c in cols}})


def levenshtein_within(q: str, cands: np.ndarray, dmax: int) -> np.ndarray:
    """Vectorized Levenshtein <= dmax for MANY candidates at once: the DP
    advances one query character per iteration with all candidates and all
    positions as numpy lanes; the insertion recurrence cur[j] =
    min(cur[j], cur[j-1]+1) is the classic running-min-of-(cur - j) scan,
    so nothing is per-candidate Python."""
    n = len(cands)
    if n == 0:
        return np.zeros(0, dtype=bool)
    lens = np.fromiter(map(len, cands), dtype=np.int64, count=n)
    maxlen = max(int(lens.max()), 1)
    # fixed-width UTF-32 code points, NUL-padded: terms are [\pL\pN]+
    # runs (or spaced shingles of them), so a NUL never is a character
    M = np.asarray(cands, dtype=f"U{maxlen}").view(np.uint32).reshape(n, maxlen)
    qa = np.frombuffer(q.encode("utf-32-le"), dtype=np.uint32)
    j_idx = np.arange(maxlen + 1, dtype=np.int32)
    prev = np.broadcast_to(j_idx, (n, maxlen + 1)).astype(np.int32).copy()
    for i in range(1, len(qa) + 1):
        cur = np.empty_like(prev)
        cur[:, 0] = i
        sub = prev[:, :-1] + (M != qa[i - 1])
        cur[:, 1:] = np.minimum(prev[:, 1:] + 1, sub)
        # propagate insertions left-to-right in one accumulate
        t = np.minimum.accumulate(cur - j_idx, axis=1)
        cur = t + j_idx
        prev = cur
    return prev[np.arange(n), lens] <= dmax


def auto_fuzziness(term: str) -> int:
    """ES ``fuzziness: AUTO`` (exercised at IndexerServiceIT.java:228):
    edit distance 0 for <3 chars, 1 for 3-5, 2 for >=6."""
    n = len(term)
    return 0 if n < 3 else (1 if n <= 5 else 2)


# the reference's sub-field boosts: base^10, _2gram^5, _3gram^2
TIER_BOOSTS = (10.0, 5.0, 2.0)


def _boost_lut(names, boosts: dict[str, float] | None) -> np.ndarray:
    """Boost lookup table indexed by value code: code 0 (null, or an
    expunged hole) is 1.0, code i + 1 is ``names[i]``'s boost."""
    lut = np.ones(len(names) + 1, dtype=np.float64)
    if boosts:
        for i, name in enumerate(names):
            lut[i + 1] = boosts.get(name, 1.0)
    return lut


class _SegmentNorms:
    """One segment's doc norms, as a distributed scoring task reads them:
    ``dl`` (int32) and the role/tool codes (int16) over the dense ordinal
    span starting at ``base``. The code maps are segment-local: code 0 is
    null, code i + 1 is ``role_names[i]`` / ``tool_names[i]``, so no
    global vocabulary pass exists. Holes left by an expunging merge
    (index/merge.py) are densified with dl 0 and code 0; no posting
    references them.

    ``get`` serves them from an LRU of at most ``MAX_BYTES`` that lives in
    each Python worker process and outlives its tasks while Spark reuses
    the worker — the executor-resident analogue of Lucene's per-segment
    norms. Its key is the segment id plus its doc_stats files with their
    size and mtime, so a rewritten batch (a replayed append, a merge) is
    never served stale. Without worker reuse every task reads its norms
    afresh: correct, only slower. A worker runs one task at a time."""

    MAX_BYTES = 128 << 20
    _lru: dict[tuple, "_SegmentNorms"] = {}
    _bytes = 0

    def __init__(self, seg: int, tbl: pa.Table):
        tbl = tbl.sort_by("doc_ord")
        ords = tbl["doc_ord"].to_numpy()
        if np.any(ords[1:] == ords[:-1]):  # not assert: -O
            raise ValueError(
                f"segment {seg} has duplicate doc ordinals — its norms would misalign"
            )
        self.base = int(ords[0]) if len(ords) else 0
        pos = ords - self.base
        span = int(pos[-1]) + 1 if len(pos) else 0
        self.dl = np.zeros(span, dtype=np.int32)
        self.dl[pos] = tbl["dl"].to_numpy()
        for col in ("role", "tool"):
            enc = tbl[col].combine_chunks().dictionary_encode()
            if len(enc.dictionary) >= 32_767:  # int16 codes
                raise ValueError(
                    f"segment {seg}: {col} cardinality {len(enc.dictionary)} "
                    "exceeds int16 codes — a bounded categorical by schema; "
                    "widen the code dtype if that ever changes"
                )
            codes = np.zeros(span, dtype=np.int16)
            codes[pos] = pc.fill_null(enc.indices, -1).to_numpy() + 1
            setattr(self, col, codes)
            setattr(self, col + "_names", enc.dictionary.to_pylist())
        self.nbytes = self.dl.nbytes + self.role.nbytes + self.tool.nbytes

    @classmethod
    def get(cls, seg: int, files: tuple[str, ...]) -> "_SegmentNorms":
        key = (seg, *((p, st.st_size, st.st_mtime_ns) for p in files for st in [os.stat(p)]))
        norms = cls._lru.pop(key, None)
        if norms is None:
            norms = cls(seg, pads.dataset(list(files), format="parquet").to_table(
                columns=["doc_ord", "dl", "role", "tool"], filter=pc.field("seg") == seg,
            ))
            cls._bytes += norms.nbytes
        cls._lru[key] = norms  # most recent last
        while cls._bytes > cls.MAX_BYTES and len(cls._lru) > 1:
            cls._bytes -= cls._lru.pop(next(iter(cls._lru))).nbytes
        return norms


def _seg_range(md) -> range:
    """The range of segment ids a doc_stats or postings file can hold,
    from the ``seg`` statistics of its footer."""
    ci = md.schema.names.index("seg")
    stats = [md.row_group(i).column(ci).statistics for i in range(md.num_row_groups)
             if md.row_group(i).num_rows]
    if not stats:
        return range(0)
    if any(st is None or not st.has_min_max for st in stats):
        raise ValueError("an index file has no seg statistics in its footer")
    return range(min(st.min for st in stats), max(st.max for st in stats) + 1)


class IndexSearcher:
    def __init__(self, spark: SparkSession, index_dir: str, version_dir: str | None = None):
        self.spark = spark
        self.index_dir = index_dir
        vdir = version_dir or catalog.current_version_dir(index_dir)
        if vdir is None:
            raise FileNotFoundError(f"no published index version in {index_dir}")
        self.vdir = vdir
        self.manifest = catalog.read_json(os.path.join(vdir, "manifest.json"))
        self.n_docs = int(self.manifest["n_docs"])
        # ordinal span: one past the highest ordinal ever allocated. Equal
        # to n_docs until an expunging merge (index/merge.py) removes
        # tombstoned docs WITHOUT renumbering — ordinals then have holes,
        # and every dense doc_ord-indexed array must size by span, not by
        # the live-row count. Holes are never referenced: expunged docs
        # appear in no posting list and no doc_stats row.
        self.ord_span = int(self.manifest.get("next_ord", self.manifest["n_docs"]))
        self.avgdl = float(self.manifest["avgdl"])
        self.n_buckets = int(self.manifest["n_buckets"])
        self._postings_ds = pads.dataset(
            os.path.join(vdir, "postings"), partitioning="hive", format="parquet"
        )
        # the dictionaries of exactly the batches listed above, so the
        # searcher's dictionary and postings are one snapshot
        batches = {_partition_key(f, "batch") for f in self._postings_ds.get_fragments()}
        ts = pads.dataset(
            os.path.join(vdir, "term_stats"), schema=_TERM_STATS_SCHEMA,
            partitioning="hive", format="parquet",
        )
        self._term_stats_ds = pads.FileSystemDataset(
            [f for f in ts.get_fragments() if _partition_key(f, "batch") in batches],
            ts.schema, ts.format, ts.filesystem,
        )
        self._doc_ds = pads.dataset(
            os.path.join(vdir, "doc_stats"), partitioning="hive", format="parquet"
        )
        self._norms: dict | None = None
        self._term_dict: pd.DataFrame | None = None
        # (terms sorted, df, term lengths) of the resident dictionary
        self._dict_arrays: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None
        self._chunk_cache: dict[str, scoring.TermChunks] = {}
        # tbucket -> postings fragments of self._postings_ds, grouped on
        # first use; a bucket's footers are read on its first driver-side
        # fetch
        self._bucket_frags: dict[int, list] | None = None
        self._bucket_bytes: dict[int, int] = {}
        # tbucket -> the whole bucket, resident until close() (see
        # _postings_map), and the footer bytes of those buckets
        self._resident: dict[int, scoring.ChunkColumns] = {}
        self._resident_bytes = 0
        self._df_cache: dict[str, int] = {}
        # (seg, doc_stats files) per segment (_segment_list) and the
        # Spark view of doc_stats (doc_stats_df), both built on first use
        # from the file listings above. SNAPSHOT CONTRACT (Lucene
        # point-in-time readers): appends only ADD batch dirs (postings,
        # doc_stats and term_stats alike) and compaction publishes a new
        # version dir, so reading exactly the files listed at open keeps
        # the searcher valid across any number of appends until a merge
        # removes its batches; the open itself runs no Spark job.
        self._segments: list[tuple[int, tuple[str, ...]]] | None = None
        # tbucket -> seg -> postings files (_bucket_segments), and the
        # build checkpoints' file -> segments records
        self._seg_files: dict[int, dict[int, tuple[str, ...]]] = {}
        self._recorded_segs: dict[str, list[int]] | None = None
        self._doc_stats_src: DataFrame | None = None
        # corpora larger than this auto-dispatch search/count/phrase/suggest
        # to the distributed path (driver path holds O(corpus) norms) and
        # read the term dictionary by scan, not from resident arrays
        self.driver_max_docs = int(os.environ.get("ES_IDX_DRIVER_MAX_DOCS", 20_000_000))
        self.synonyms = SynonymSet()
        from ..streaming.incremental import load_tombstones

        self.tombstones = load_tombstones(vdir)  # deleted doc_ords (sorted)

    # ------------------------------------------------------------------ IO
    def _posting_cols(self) -> list[str]:
        cols = list(_POSTING_COLS)
        if self.manifest.get("with_positions"):
            cols.append(_POS_COL)
        return cols

    _CACHE_MAX_TERMS = 4096
    # uncompressed postings bytes (parquet footers) of the term buckets a
    # searcher keeps resident; buckets past it use the per-term cache. Their
    # numpy columns take ~2.2x the footer bytes (int64 offsets, float64
    # block maxima), so this keeps ~280 MB of postings on the driver.
    _RESIDENT_POSTINGS_BYTES = 128 << 20

    def _fragments(self, buckets: list[int]) -> list:
        """The postings fragments of the given term buckets, one per
        segment holding the bucket. They come from the dataset listed at
        open (the snapshot contract); each bucket's parquet footers are
        read once per searcher, and their uncompressed row-group bytes are
        the bucket's size in ``_bucket_bytes``, which decides whether
        ``_postings_map`` keeps it resident. A bucket file is written as
        one row group, so a scan reads the whole file and a ``term``
        filter runs after the read; term-sorted row groups that
        statistics can prune are ROADMAP item 4(b)."""
        out = []
        for b in buckets:
            frags = self._by_bucket().get(b, [])
            if b not in self._bucket_bytes:
                for f in frags:
                    f.ensure_complete_metadata()
                self._bucket_bytes[b] = sum(
                    rg.total_byte_size for f in frags for rg in f.row_groups
                )
            out.extend(frags)
        return out

    def _by_bucket(self) -> dict[int, list]:
        """tbucket -> the postings fragments listed at open."""
        if self._bucket_frags is None:
            self._bucket_frags = {}
            for f in self._postings_ds.get_fragments():
                self._bucket_frags.setdefault(int(_partition_key(f, "tbucket")), []).append(f)
        return self._bucket_frags

    def _scan_postings(self, buckets: list[int], filt: pc.Expression | None = None):
        """One Arrow scan of the given term buckets' fragments, sorted by
        ``scoring.sort_chunks``."""
        ds = self._postings_ds
        return scoring.sort_chunks(
            pads.FileSystemDataset(
                self._fragments(buckets), ds.schema, ds.format, ds.filesystem
            ).to_table(columns=self._posting_cols(), filter=filt)
        )

    def _postings_map(self, terms: list[str]) -> dict[str, scoring.TermChunks]:
        """Posting chunks PER TERM as ``scoring.TermChunks`` arrays, from
        two sources (the posting-list cache every IR engine keeps hot):

        - resident term buckets: on its first touch a bucket is admitted
          while the resident buckets' size plus its own (``_fragments``)
          stays within ``_RESIDENT_POSTINGS_BYTES``. It is read whole —
          all of its fragments, one scan, no term filter — sorted once and
          kept as a ``scoring.ChunkColumns`` until ``close()``; a term's
          chunks are a view cut from it, so no later query reads the
          bucket's files again;
        - the per-term LRU of ``_CACHE_MAX_TERMS`` terms, for buckets that
          did not fit: misses are fetched in one scan of their buckets'
          fragments with a ``term`` filter and split into compact per-term
          copies, so evicting a term frees its memory.

        Memory is O(budget) plus the LRU; with the budget at 0 every term
        takes the LRU path."""
        uniq = list(dict.fromkeys(terms))
        bucket_of = {t: term_bucket(t, self.n_buckets) for t in uniq}
        for b in sorted(set(bucket_of.values()) - self._resident.keys()):
            self._fragments([b])  # reads its footers once: _bucket_bytes[b]
            size = self._bucket_bytes[b]
            if self._resident_bytes + size <= self._RESIDENT_POSTINGS_BYTES:
                self._resident[b] = scoring.ChunkColumns(self._scan_postings([b]))
                self._resident_bytes += size
        cached = [t for t in uniq if bucket_of[t] not in self._resident]
        missing = [t for t in cached if t not in self._chunk_cache]
        if missing:
            got = scoring.term_chunks(self._scan_postings(
                sorted({bucket_of[t] for t in missing}), pc.field("term").isin(missing)
            ))
            for t in missing:
                self._chunk_cache[t] = got.get(t, scoring.EMPTY_CHUNKS)
        for t in cached:
            self._chunk_cache[t] = self._chunk_cache.pop(t)  # LRU recency order
        out = {
            t: self._resident[b].get(t) if b in self._resident else self._chunk_cache[t]
            for t, b in bucket_of.items()
        }
        # evict only AFTER the current query's terms were read — evicting
        # first could drop a hit term of this very query (KeyError) once the
        # cache is full in a long-lived searcher
        while len(self._chunk_cache) > self._CACHE_MAX_TERMS:
            self._chunk_cache.pop(next(iter(self._chunk_cache)))
        return out

    def _load_norms(self) -> dict:
        """Dense doc_ord-indexed arrays (dl, role, tool, conv_id, turn_idx).
        Driver-path only; the distributed path streams these per segment."""
        if self._norms is None:
            tbl = self._doc_ds.to_table(
                columns=["doc_ord", "dl", "role", "tool", "conv_id", "turn_idx", "doc_id"]
            )
            pdf = tbl.to_pandas().sort_values("doc_ord").reset_index(drop=True)
            if len(pdf) == self.ord_span:
                # dense ordinal space: position == doc_ord, no scatter
                self._norms = {
                    "dl": pdf["dl"].to_numpy(np.int64),
                    "role": pdf["role"].to_numpy(object),
                    "tool": pdf["tool"].to_numpy(object),
                    "doc_id": pdf["doc_id"].to_numpy(object),
                    "conv_id": pdf["conv_id"].to_numpy(object),
                    "turn_idx": pdf["turn_idx"].to_numpy(np.int64),
                    "live": None,
                }
            else:
                # expunged holes (index/merge.py): scatter each column by
                # doc_ord into span-sized arrays so position == doc_ord
                # stays true; holes carry nulls/zeros and are excluded by
                # the live mask (postings never reference them anyway)
                span = self.ord_span
                ords = pdf["doc_ord"].to_numpy(np.int64)
                live = np.zeros(span, dtype=bool)
                live[ords] = True
                nm: dict = {"live": live}
                for col, dtype, fill in (
                    ("dl", np.int64, 0),
                    ("turn_idx", np.int64, -1),
                ):
                    a = np.full(span, fill, dtype=dtype)
                    a[ords] = pdf[col].to_numpy(dtype)
                    nm[col] = a
                for col in ("role", "tool", "doc_id", "conv_id"):
                    a = np.full(span, None, dtype=object)
                    a[ords] = pdf[col].to_numpy(object)
                    nm[col] = a
                self._norms = nm
            # role/tool as codes (0 = null or expunged hole) + names, so a
            # boosted query builds its boost vector from O(#values) lookup
            # tables instead of comparing objects over the whole corpus
            for col in ("role", "tool"):
                codes, names = pd.factorize(self._norms[col], use_na_sentinel=True)
                self._norms[col + "_code"] = codes + 1
                self._norms[col + "_names"] = names
        return self._norms

    def term_dictionary(self) -> pd.DataFrame:
        """(term, df, total_tf), term-sorted: each term's statistics summed
        across the batch dictionaries of this searcher's snapshot."""
        if self._term_dict is None:
            tbl = self._term_stats_ds.to_table(columns=["term", "df", "total_tf"])
            self._term_dict = (
                _sum_by_term(tbl, ["df", "total_tf"]).sort_by("term").to_pandas()
            )
        return self._term_dict

    def _dictionary(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(terms, df, term length) of the resident dictionary as arrays,
        term-sorted; derived once from ``term_dictionary()``."""
        if self._dict_arrays is None:
            td = self.term_dictionary()
            terms = td["term"].to_numpy(object)
            self._dict_arrays = (
                terms,
                td["df"].to_numpy(np.int64),
                np.fromiter(map(len, terms), dtype=np.int64, count=len(terms)),
            )
        return self._dict_arrays

    def _term_stats_fragments(self, filt: pc.Expression | None) -> list:
        """The snapshot's term_stats files a scan with filter ``filt``
        opens: those of the ``tlen`` partitions the filter leaves."""
        return list(self._term_stats_ds.get_fragments(filter=filt))

    def _dictionary_slices(
        self,
        tlens: Iterable[int] | None = None,
        ranges: list[tuple[str, str]] | None = None,
    ) -> Iterator[tuple[np.ndarray, np.ndarray, np.ndarray]]:
        """(terms, df, term length) slices of the term dictionary: the
        terms whose capped length (term_stats' ``tlen``) is in ``tlens``
        and that lie in one of the inclusive ``(lo, hi)`` term ``ranges``
        (None: no bound). Below ``driver_max_docs`` the slices are cut
        from the resident sorted arrays with ``searchsorted``. Above it
        there is one slice per ``tlen`` partition the filter keeps: a
        pyarrow scan of that partition across the snapshot's batch
        dictionaries, the term ranges pruning row groups by their min/max
        statistics, summed per term before it is yielded. Driver memory
        is then one partition's matching rows at a time."""
        if self.n_docs <= self.driver_max_docs:
            terms, df, lens = self._dictionary()
            if ranges is None:
                spans = [(0, len(terms))]
            else:
                lo, hi = (np.array(b, dtype=object) for b in zip(*ranges))
                spans = zip(np.searchsorted(terms, lo).tolist(),
                            np.searchsorted(terms, hi, "right").tolist())
            for a, b in spans:
                t, d, n = terms[a:b], df[a:b], lens[a:b]
                if tlens is not None:
                    ok = np.isin(np.minimum(n, TLEN_CAP), list(tlens))
                    t, d, n = t[ok], d[ok], n[ok]
                yield t, d, n
            return
        conds = []
        if tlens is not None:
            conds.append(pc.field("tlen").isin(list(tlens)))
        if ranges is not None:
            term = pc.field("term")
            spans = [(term >= lo) & (term <= hi) for lo, hi in ranges if lo != hi]
            points = [lo for lo, hi in ranges if lo == hi]
            if points:  # exact terms: one hash lookup, not a range per term
                spans.append(term.isin(points))
            conds.append(reduce(operator.or_, spans))
        filt = reduce(operator.and_, conds) if conds else None
        ds = self._term_stats_ds
        by_tlen: dict[int, list] = {}
        for f in self._term_stats_fragments(filt):
            by_tlen.setdefault(_partition_key(f, "tlen"), []).append(f)
        for _, frags in sorted(by_tlen.items()):
            tbl = pads.FileSystemDataset(
                frags, ds.schema, ds.format, ds.filesystem
            ).to_table(columns=["term", "df"], filter=filt)
            if not tbl.num_rows:
                continue
            tbl = _sum_by_term(tbl, ["df"])
            yield (
                tbl["term"].to_numpy(zero_copy_only=False),
                tbl["df"].to_numpy(),
                pc.utf8_length(tbl["term"]).to_numpy(),
            )

    @staticmethod
    def _top_df(
        slices: Iterable[tuple[np.ndarray, np.ndarray, np.ndarray]],
        keep: Callable[[np.ndarray, np.ndarray], np.ndarray] | None,
        max_expansions: int,
    ) -> list[str]:
        """The ``max_expansions`` highest-df terms of ``slices`` that
        ``keep(terms, lengths)`` accepts (None: all), ties in term order.
        One running selection across the slices, so it holds one slice
        plus the selection at a time."""
        top_t, top_d = np.empty(0, dtype=object), np.empty(0, dtype=np.int64)
        for terms, df, lens in slices:
            if keep is not None:
                ok = keep(terms, lens)
                terms, df = terms[ok], df[ok]
            if not len(terms):
                continue
            t, d = np.concatenate([top_t, terms]), np.concatenate([top_d, df])
            if 0 < max_expansions < len(d):
                # only dfs at or above the max_expansions-th largest can
                # be selected: sort just those
                cut = np.partition(d, len(d) - max_expansions)[len(d) - max_expansions]
                t, d = t[d >= cut], d[d >= cut]
            order = np.lexsort((t, -d))[:max_expansions]
            top_t, top_d = t[order], d[order]
        return top_t.tolist()

    def _local_plan(
        self, terms: list[str], **plan_kw
    ) -> tuple[scoring.Plan, dict[str, scoring.TermChunks]]:
        """The driver executor's plan over the whole corpus, with the
        posting chunks it runs on; dfs are the chunks' own (the whole
        corpus is local)."""
        if plan_kw.get("phrase"):
            self._require_positions(plan_kw["phrase"])
        chunks = self._postings_map(sorted(set(terms)))
        dfs = {t: int(c.df_chunk.sum()) for t, c in chunks.items()}
        return scoring.Plan.build(dfs, self.n_docs, self.avgdl, **plan_kw), chunks

    def _evaluate(
        self, terms: list[str], *, boost_of: np.ndarray | None = None, **plan_kw
    ) -> tuple[np.ndarray, np.ndarray]:
        """``scoring.evaluate`` once over the whole corpus: chunk order
        already spans segments and the resident norms are ordinal-indexed
        (``dl_base`` 0), so a loop over segments would only add work."""
        plan, chunks = self._local_plan(terms, **plan_kw)
        return scoring.evaluate(
            plan, chunks, self._load_norms()["dl"],
            boost_of=boost_of, deleted=self.tombstones,
        )

    def _boost_of(self, role_boosts, tool_boosts) -> np.ndarray | None:
        """Per-doc role × tool boost over the corpus, or None unboosted."""
        if not role_boosts and not tool_boosts:
            return None
        nm = self._load_norms()
        return (
            _boost_lut(nm["role_names"], role_boosts)[nm["role_code"]]
            * _boost_lut(nm["tool_names"], tool_boosts)[nm["tool_code"]]
        )

    def _materialize(self, doc_ords: np.ndarray, scores: np.ndarray) -> pd.DataFrame:
        nm = self._load_norms()
        return pd.DataFrame(
            {
                "doc_ord": doc_ords,
                "doc_id": nm["doc_id"][doc_ords],
                "conv_id": nm["conv_id"][doc_ords],
                "turn_idx": nm["turn_idx"][doc_ords],
                "role": nm["role"][doc_ords],
                "score": scores,
            }
        )

    # --------------------------------------------------------------- query
    def analyze_query(self, query: str | list[str], expand_synonyms: bool = False) -> list[str]:
        terms = tokenize_py(query) if isinstance(query, str) else list(query)
        if expand_synonyms and self.synonyms.mapping:
            terms = [w for g in self.synonyms.expand(terms) for w in g]
        # dedupe, keep deterministic order
        return list(dict.fromkeys(terms))

    def search(
        self,
        query: str | list[str],
        k: int = 10,
        *,
        mode: str = "or",
        strategy: str = "auto",
        role_boosts: dict[str, float] | None = None,
        tool_boosts: dict[str, float] | None = None,
        term_boosts: dict[str, float] | None = None,
        expand_synonyms: bool = False,
    ) -> pd.DataFrame:
        """Driver-path top-k BM25. Returns (doc_ord, doc_id, conv_id,
        turn_idx, role, score) sorted (score desc, doc_ord asc).
        ``term_boosts`` carries ES ^boost weights (e.g. per-field /
        per-expansion-group multipliers) folded into each term's idf.
        ``strategy`` is "exhaustive", "blockmax" or "auto" (see
        ``scoring.Plan.build``); all are exact.

        Above ``driver_max_docs`` the query auto-dispatches to the
        distributed path (identical results — pytest rank-identity)."""
        if self.n_docs > self.driver_max_docs:
            return self.search_df(
                query, k, mode=mode,
                strategy="blockmax" if strategy in ("auto", "blockmax") else strategy,
                role_boosts=role_boosts, tool_boosts=tool_boosts,
                term_boosts=term_boosts, expand_synonyms=expand_synonyms,
            ).toPandas()
        docs, scores = self._evaluate(
            self.analyze_query(query, expand_synonyms),
            k=k, mode=mode, strategy=strategy, term_boosts=term_boosts,
            boost_of=self._boost_of(role_boosts, tool_boosts),
        )
        return self._materialize(docs, scores)

    def count(self, query: str | list[str], mode: str = "or") -> int:
        """Q7 size(0) total-hits count (distributed above the corpus
        threshold — a stop-word count must not decode postings driver-side
        at 10^9 docs)."""
        if self.n_docs > self.driver_max_docs:
            return self.count_df(query, mode)
        plan, chunks = self._local_plan(self.analyze_query(query), mode=mode)
        return scoring.count(plan, chunks, self.tombstones)

    def phrase_search(self, phrase: str, k: int = 10) -> pd.DataFrame:
        """match_phrase: adjacent in-order terms (unscored filter in the
        reference; we also return BM25 scores of the AND-group for ranking)."""
        if self.n_docs > self.driver_max_docs:
            return self.phrase_search_df(phrase, k).toPandas()
        terms = tokenize_py(phrase) if isinstance(phrase, str) else list(phrase)
        return self._materialize(*self._evaluate(terms, k=k, phrase=terms))

    def _require_positions(self, terms: list[str]) -> None:
        """Multi-term phrase queries need positional postings; an index
        built with the default ``with_positions=False`` (postings ~40%
        smaller — see BENCH.md) cannot answer them. Fail loudly up front:
        without this guard an empty AND-intersection would silently return
        0 hits before the decoder ever noticed the missing pos_bytes."""
        if len(terms) > 1 and not self.manifest.get("with_positions"):
            raise ValueError(
                "phrase queries need a positional index: this index was "
                "built with with_positions=False; rebuild with "
                "build_index(..., with_positions=True)"
            )

    # ------------------------------------------------- dictionary expansion
    #
    # Each expansion is a dictionary read (``_dictionary_slices``) and a
    # predicate, selected by ``_top_df``: highest df first (ES default
    # ordering), ties in term order.

    def _prefix_slices(self, prefix: str):
        """Dictionary slices of the terms starting with ``prefix``: a term
        range, and the tlens no shorter than the prefix — Lucene seeking
        its TermsEnum to the prefix."""
        return self._dictionary_slices(
            range(min(len(prefix), TLEN_CAP), TLEN_CAP + 1),
            [(prefix, prefix + _MAX_CHAR)],
        )

    def expand_prefix(self, prefix: str, max_expansions: int = 50) -> list[str]:
        """Term-dictionary range scan (search_as_you_type / bool_prefix
        analogue)."""
        return self._top_df(self._prefix_slices(prefix), None, max_expansions)

    def expand_fuzzy(self, term: str, max_edits: int | None = None, max_expansions: int = 50) -> list[str]:
        """AUTO-fuzziness expansion: the tlen band ``|len(t) - len(q)| <=
        d`` (a necessary edit-distance condition, so on the scan source
        only ~2d+1 length partitions are read), then the exact length band
        and ``levenshtein_within`` decide."""
        d = auto_fuzziness(term) if max_edits is None else max_edits
        lo, hi = term_len_band(len(term), d)

        def keep(cands: np.ndarray, lens: np.ndarray) -> np.ndarray:
            ok = np.abs(lens - len(term)) <= d  # the cap's tlen holds longer terms
            ok[ok] = levenshtein_within(term, cands[ok], d)
            return ok

        slices = self._dictionary_slices(
            range(lo, hi + 1), [(term, term)] if d == 0 else None
        )
        return self._top_df(slices, keep, max_expansions)

    @staticmethod
    def _wildcard_regex(pattern: str) -> str:
        """ES wildcard syntax → regex source: ``*`` any sequence, ``?``
        one char, everything else literal; anchored by the caller."""
        return "".join(
            ".*" if c == "*" else "." if c == "?" else re.escape(c)
            for c in pattern
        )

    @staticmethod
    def _fullmatch(regex: str, pattern: str) -> Callable[[np.ndarray, np.ndarray], np.ndarray]:
        """The predicate "``regex`` matches the whole term" (Python ``re``);
        a pattern that does not compile raises ValueError naming it."""
        try:
            rx = re.compile(regex)
        except re.error as e:
            raise ValueError(f"invalid pattern {pattern!r}: {e}") from None
        return lambda terms, _: np.fromiter(
            (rx.fullmatch(t) is not None for t in terms), dtype=bool, count=len(terms)
        )

    def expand_wildcard(self, pattern: str, max_expansions: int = 50) -> list[str]:
        """ES wildcard-query expansion (anchored whole-term match). The
        literal prefix before the first wildcard bounds the read to its
        prefix range first."""
        lit = re.match(r"[^*?]*", pattern).group(0)
        keep = self._fullmatch(self._wildcard_regex(pattern), pattern)
        return self._top_df(self._prefix_slices(lit), keep, max_expansions)

    def expand_regexp(self, pattern: str, max_expansions: int = 50) -> list[str]:
        """ES regexp-query expansion (anchored whole-term match, Python
        ``re`` dialect — use the subset Lucene shares: literals, classes,
        ``.|*+?()[]``). With no literal prefix to seek, it reads the whole
        dictionary."""
        keep = self._fullmatch(pattern, pattern)
        return self._top_df(self._dictionary_slices(), keep, max_expansions)

    def suggest(
        self,
        query: str,
        k: int = 10,
        *,
        fuzzy: bool = True,
        role_boosts: dict[str, float] | None = None,
        boosts: tuple[float, float, float] = TIER_BOOSTS,
    ) -> pd.DataFrame:
        """Search-as-you-type: ``multi_match bool_prefix`` analogue
        (IndexerServiceIT.java:219-238) — all tokens but the last as terms
        (fuzzy-expanded when enabled), the last as a prefix OR-group.

        On a suggest-analyzed index (built with ``analyzer="suggest"``,
        i.e. the shingle chain — the search_suggestions field) the prefix
        expansion also matches multi-word shingles, and expansions carry
        the reference's per-field boosts: base^10, _2gram^5, _3gram^2
        (word count of the matched dictionary entry picks the tier)."""
        if self.n_docs > self.driver_max_docs:
            return self.suggest_df(
                query, k, fuzzy=fuzzy, role_boosts=role_boosts, boosts=boosts
            ).toPandas()
        terms, term_boosts = self._bool_prefix_terms(query, fuzzy, boosts)
        return self.search(
            terms, k, role_boosts=role_boosts, term_boosts=term_boosts
        )

    def _bool_prefix_terms(
        self,
        query: str,
        fuzzy: bool,
        tier_boosts: tuple[float, float, float],
    ) -> tuple[list[str], dict[str, float] | None]:
        """The terms of a ``multi_match bool_prefix`` query over this
        field (IndexerServiceIT.java:219-238): every token but the last
        (fuzzy-AUTO-expanded when ``fuzzy``), then the last token's prefix
        expansion (the token itself when nothing expands). On a
        suggest-analyzed index the terms carry the tier boost of their
        shingle width."""
        toks = tokenize_py(query)
        terms: list[str] = []
        for t in toks[:-1]:
            terms.extend(self.expand_fuzzy(t) if fuzzy else [t])
        if toks:
            terms.extend(self.expand_prefix(toks[-1]) or [toks[-1]])
        terms = list(dict.fromkeys(terms))
        if self.manifest.get("analyzer") != "suggest":
            return terms, None
        return terms, {t: tier_boosts[min(t.count(" "), 2)] for t in terms}

    # ------------------------------------------------------ scan/point ops
    def doc_stats_df(self) -> DataFrame:
        """doc_stats as a Spark DataFrame over exactly the files listed at
        open, with its ``batch`` partition column; built on first use, so
        an open runs no Spark job and an append made after it stays
        unseen."""
        if self._doc_stats_src is None:
            self._doc_stats_src = self.spark.read.option(
                "basePath", os.path.join(self.vdir, "doc_stats")
            ).parquet(*self._doc_ds.files)
        return self._doc_stats_src

    def get(self, doc_id: str) -> pd.DataFrame:
        """Q1 ids lookup (point fetch, parquet predicate pushdown).
        Tombstoned ordinals are masked so a post-upsert lookup returns only
        the live version — consistent with the scored paths."""
        pdf = self._doc_ds.to_table(filter=pc.field("doc_id") == doc_id).to_pandas()
        if len(self.tombstones) and len(pdf):
            pdf = pdf[~pdf["doc_ord"].isin(self.tombstones)].reset_index(drop=True)
        return pdf

    def scan_after(
        self, cursor: tuple[str, int] | None = None, page_size: int = 100
    ) -> DataFrame:
        """Q4 match_all + stable sort + search_after keyset pagination
        (GeoNetworkServiceImpl.java:585-603). Predicate pushes to parquet;
        no deep-offset skip. Deleted docs are masked: IN-literal while the
        tombstone set is small (pushes to the scan), broadcast anti-join
        past ~10k so heavy churn never bloats the plan — a compacting
        rebuild remains the durable remedy."""
        from ..planlimits import drop_ordinals

        df = drop_ordinals(self.doc_stats_df(), self.tombstones)
        df = df.select("conv_id", "turn_idx", "doc_id", "role", "text")
        if cursor is not None:
            c, t = cursor
            df = df.filter(
                (F.col("conv_id") > c)
                | ((F.col("conv_id") == c) & (F.col("turn_idx") > t))
            )
        return df.orderBy("conv_id", "turn_idx").limit(page_size)

    # ------------------------------------------------------ distributed path
    #
    # Full feature parity with the driver path (synonyms, term/role/tool
    # boosts, phrase, suggest, count): any query answerable at sf0.1 on the
    # driver is answerable at 10^9 docs here, with NO O(corpus) driver state
    # — global term stats come from the dictionary read (rows = query
    # terms), everything else is read by the segment tasks.

    def _global_dfs(self, terms: list[str]) -> dict[str, int]:
        """Corpus-wide df per query term (idf is a global statistic): a
        point lookup per term in the dictionary read — ``searchsorted`` on
        the resident arrays, or one pyarrow scan pruned to the terms'
        tlen partitions — with no Spark job (a collect cost a whole job's
        scheduling per cold term set, BENCH_NOTES round 5)."""
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            self._df_cache.update(dict.fromkeys(missing, 0))
            for got, df, _ in self._dictionary_slices(
                {min(len(t), TLEN_CAP) for t in missing}, [(t, t) for t in missing]
            ):
                self._df_cache.update(zip(got.tolist(), df.tolist()))
        return {t: self._df_cache[t] for t in terms}

    def refresh(self) -> "IndexSearcher":
        """Reopen at the CURRENT state of the index (Lucene's
        DirectoryReader.openIfChanged): releases this searcher's resident
        buckets and returns a fresh point-in-time searcher that sees all
        appends/deletes/compactions committed since this one opened."""
        self.close()
        return IndexSearcher(self.spark, self.index_dir)

    def close(self) -> None:
        """Release the resident term buckets. Executors hold no state of
        this searcher: their norms cache is keyed by file, not searcher."""
        self._resident.clear()
        self._resident_bytes = 0

    def search_df(
        self,
        query: str | list[str],
        k: int = 10,
        *,
        mode: str = "or",
        strategy: str = "blockmax",
        role_boosts: dict[str, float] | None = None,
        tool_boosts: dict[str, float] | None = None,
        term_boosts: dict[str, float] | None = None,
        expand_synonyms: bool = False,
        phrase_terms: list[str] | None = None,
    ) -> DataFrame:
        """Segment-parallel top-k: every segment (= shard) scores its own
        doc range with the same numpy kernel, emits a local top-k, and the
        tiny union is globally sorted. Scales to any corpus the build
        scaled to — no driver-side norms.

        NOTE: the scoring phase runs EAGERLY at call time (the k scored
        ordinals are collected and pushed into the doc_stats scan as a
        pruning literal — the stored-fields point-read; a lazy join would
        full-scan doc_stats per query). The returned DataFrame is the
        cheap k-row enrichment plan.

        ``phrase_terms`` (query-ordered) restricts hits to docs where those
        terms occur adjacently in order (match_phrase); requires a
        with_positions index. The adjacency test is segment-local because a
        doc lives in exactly one segment."""
        plan = self._dist_plan(
            query, expand_synonyms=expand_synonyms, phrase_terms=phrase_terms,
            mode=mode, k=k, strategy=strategy, term_boosts=term_boosts,
        )
        if plan.matches_nothing():
            return self._enrich_topk([], {})
        local = self._segment_scores(plan, role_boosts, tool_boosts)
        # The scored top-k is k rows — collect it, then attach the stored
        # fields with a point-read. A lazy join here would full-scan
        # doc_stats per query (at 10^9 docs: the whole stored-fields
        # table for k rows).
        top_rows = local.orderBy(F.desc("score"), F.asc("doc_ord")).limit(k).collect()
        return self._enrich_topk(
            [int(r["doc_ord"]) for r in top_rows],
            {int(r["doc_ord"]): float(r["score"]) for r in top_rows},
        )

    def _enrich_topk(self, ords: list[int], scores: dict[int, float]) -> DataFrame:
        """Stored-fields point-read for k scored ordinals — the fetch
        phase after scoring. Below the shared plan-bloat threshold this
        is a DRIVER-side pyarrow read (doc_stats is written doc_ord-
        ordered, so the filter prunes to <=k row groups: ~20 ms vs
        ~180 ms for the equivalent one-off Spark job — measured round 6;
        the driver holds k rows, never the corpus) returned as a k-row
        local relation. Past the threshold it stays the distributed
        broadcast-join plan, which bounds the result without a giant
        IN-literal."""
        from ..planlimits import IN_LITERAL_MAX

        if not ords:
            return self.spark.createDataFrame([], _HITS)
        if len(ords) <= IN_LITERAL_MAX:
            pdf = self._doc_ds.to_table(
                columns=["doc_ord", "doc_id", "conv_id", "turn_idx", "role"],
                filter=pc.field("doc_ord").isin(ords),
            ).to_pandas()
            pdf["score"] = pdf["doc_ord"].map(scores)
            pdf = pdf.sort_values(
                ["score", "doc_ord"], ascending=[False, True]
            ).reset_index(drop=True)
            return self.spark.createDataFrame(
                pdf[["doc_ord", "doc_id", "conv_id", "turn_idx", "role",
                     "score"]],
                schema=_HITS,
            )
        score_df = self.spark.createDataFrame(
            pd.DataFrame(
                {"doc_ord": np.asarray(ords, dtype=np.int64),
                 "score": [scores[o] for o in ords]}
            )
        )
        base = self.doc_stats_df().select(
            "doc_ord", "doc_id", "conv_id", "turn_idx", "role"
        )
        return (
            base
            .join(F.broadcast(score_df), "doc_ord")
            .select("doc_ord", "doc_id", "conv_id", "turn_idx", "role", "score")
            .orderBy(F.desc("score"), F.asc("doc_ord"))
        )

    def _dist_plan(
        self,
        query: str | list[str],
        *,
        expand_synonyms: bool = False,
        phrase_terms: list[str] | None = None,
        **plan_kw,
    ) -> scoring.Plan:
        """The distributed executor's plan: the query terms' dfs come from
        the term dictionary (idf is a global statistic), not from any one
        segment's chunks."""
        if phrase_terms:
            self._require_positions(phrase_terms)
        terms = sorted(set(self.analyze_query(query, expand_synonyms)))
        return scoring.Plan.build(
            self._global_dfs(terms), self.n_docs, self.avgdl,
            phrase=phrase_terms, **plan_kw,
        )

    def _segment_list(self) -> list[tuple[int, tuple[str, ...]]]:
        """(seg, doc_stats files) of every segment of the snapshot, from
        the doc_stats files listed at open and the ``seg`` statistics of
        their footers (``_seg_range``): no Spark job and no data read."""
        if self._segments is None:
            files: dict[int, list[str]] = {}
            for f in self._doc_ds.get_fragments():
                for seg in _seg_range(f.metadata):
                    files.setdefault(seg, []).append(f.path)
            self._segments = [(seg, tuple(p)) for seg, p in sorted(files.items())]
        return self._segments

    def _bucket_segments(self, b: int) -> dict[int, tuple[str, ...]]:
        """seg -> the postings files of term bucket ``b`` that hold rows of
        the segment, built once per bucket per searcher from the fragments
        listed at open. A build batch's hash shuffle puts several segments
        in one tbucket file, so a file's segments are those its batch
        checkpoint records (``seg_files``, index/build.py); a file no
        checkpoint lists (an append or a merge writes one segment per
        batch) holds the range of its footer ``seg`` statistics."""
        got = self._seg_files.get(b)
        if got is None:
            if self._recorded_segs is None:
                self._recorded_segs = {}
                ck = os.path.join(self.vdir, "checkpoints")
                for name in sorted(os.listdir(ck)) if os.path.isdir(ck) else ():
                    if name.startswith("batch_"):
                        self._recorded_segs.update(
                            catalog.read_json(os.path.join(ck, name)).get("seg_files", {}))
            root = os.path.join(self.vdir, "postings")
            files: dict[int, list[str]] = {}
            for f in self._fragments([b]):
                segs = self._recorded_segs.get(os.path.relpath(f.path, root))
                for seg in _seg_range(f.metadata) if segs is None else segs:
                    files.setdefault(seg, []).append(f.path)
            got = self._seg_files[b] = {seg: tuple(p) for seg, p in files.items()}
        return got

    def _segment_files(
        self, terms: Iterable[str]
    ) -> list[tuple[int, tuple[str, ...], tuple[str, ...]]]:
        """(seg, doc_stats files, postings files) of each segment a task
        reads for ``terms``: the terms' tbucket files that hold the
        segment (``_bucket_segments``). A segment with none is left
        out."""
        maps = [self._bucket_segments(b)
                for b in sorted({term_bucket(t, self.n_buckets) for t in terms})]
        out = []
        for seg, docs in self._segment_list():
            files = tuple(p for m in maps for p in m.get(seg, ()))
            if files:
                out.append((seg, docs, files))
        return out

    def _segment_job(
        self,
        terms: tuple[str, ...],
        per_segment: Callable[[int, tuple[str, ...], dict], pa.RecordBatch],
        schema: T.StructType,
    ) -> DataFrame:
        """One Spark job of segment tasks, with no shuffle: ``spark.range``
        over the segments ``_segment_files`` keeps, mapped with Arrow, each
        task looping over its contiguous slice of them (Lucene's leaf
        slices — many small segments do not cost one Python task each).
        A task reads the posting chunks of ``terms`` in its segments'
        files with pyarrow, each file once however many of its segments
        the file holds, and emits ``per_segment(seg, doc_stats files,
        chunks)``, a RecordBatch of ``schema``, per segment; a segment
        with no such chunks emits nothing."""
        segs = self._segment_files(terms)
        if not segs:
            return self.spark.createDataFrame([], schema)
        cols, want = self._posting_cols(), list(terms)

        def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            mine = [segs[i] for rb in batches for i in rb.column("id").to_pylist()]
            if not mine:
                return
            tbl = pads.dataset(
                sorted({p for _, _, files in mine for p in files}), format="parquet"
            ).to_table(
                columns=cols,
                filter=pc.field("seg").isin([seg for seg, _, _ in mine])
                & pc.field("term").isin(want),
            )
            # by segment, then in sort_chunks order within each segment
            tbl = tbl.take(pc.sort_indices(
                tbl, [("seg", "ascending"), ("term", "ascending"), ("min_doc", "ascending")]
            ))
            seg_col = tbl["seg"].to_numpy()
            for seg, docs, _ in mine:
                lo, hi = np.searchsorted(seg_col, [seg, seg + 1])
                if hi > lo:
                    yield per_segment(seg, docs, scoring.term_chunks(tbl.slice(lo, hi - lo)))

        n_tasks = min(len(segs), self.spark.sparkContext.defaultParallelism)
        return self.spark.range(len(segs), numPartitions=n_tasks).mapInArrow(task, schema)

    def _segment_scores(
        self,
        plan: scoring.Plan,
        role_boosts: dict[str, float] | None = None,
        tool_boosts: dict[str, float] | None = None,
    ) -> DataFrame:
        """(doc_ord, score) rows of ``scoring.evaluate``, run once per
        segment (``_segment_job``) against the segment's norms
        (``_SegmentNorms``)."""
        rb, tb = role_boosts or {}, tool_boosts or {}
        tombstones = self.tombstones  # small; broadcast-join a DF if huge

        def score(seg: int, docs: tuple[str, ...], chunks: dict) -> pa.RecordBatch:
            nm = _SegmentNorms.get(seg, docs)
            boost_of = None
            if rb or tb:
                # O(#codes) lookup tables from the segment-local code maps
                boost_of = (_boost_lut(nm.role_names, rb)[nm.role]
                            * _boost_lut(nm.tool_names, tb)[nm.tool])
            ords, scores = scoring.evaluate(
                plan, chunks, nm.dl, dl_base=nm.base, boost_of=boost_of, deleted=tombstones,
            )
            return pa.RecordBatch.from_arrays(
                [pa.array(ords, pa.int64()), pa.array(scores, pa.float64())],
                names=["doc_ord", "score"],
            )

        return self._segment_job(plan.terms, score, _SCORES)

    def count_df(self, query: str | list[str], mode: str = "or") -> int:
        """Q7 count, distributed: ``scoring.count`` per segment over its
        posting chunks, summed on the driver (each doc lives in exactly
        one segment, so segment counts sum exactly; a count needs no
        norms). Single-term, tombstone-free counts short-cut to the term
        dictionary row — no postings decoded at all."""
        plan = self._dist_plan(query, mode=mode)
        if plan.matches_nothing():
            return 0
        if len(plan.terms) == 1 and not len(self.tombstones):
            return plan.dfs[0]
        tombstones = self.tombstones

        def count(seg: int, docs: tuple[str, ...], chunks: dict) -> pa.RecordBatch:
            n = scoring.count(plan, chunks, tombstones)
            return pa.RecordBatch.from_arrays([pa.array([n], pa.int64())], names=["n"])

        return sum(r["n"] for r in self._segment_job(plan.terms, count, _COUNT).collect())

    def phrase_search_df(self, phrase: str, k: int = 10) -> DataFrame:
        """Q3 match_phrase, distributed (see ``phrase_terms`` in
        ``search_df``)."""
        terms = tokenize_py(phrase) if isinstance(phrase, str) else list(phrase)
        return self.search_df(terms, k, mode="and", phrase_terms=terms)

    def suggest_df(
        self,
        query: str,
        k: int = 10,
        *,
        fuzzy: bool = True,
        role_boosts: dict[str, float] | None = None,
        boosts: tuple[float, float, float] = TIER_BOOSTS,
    ) -> DataFrame:
        """Q6 search-as-you-type, distributed scoring: the expansions come
        from the dictionary read (see the module docstring for its driver
        bounds), scoring from the segment tasks."""
        terms, term_boosts = self._bool_prefix_terms(query, fuzzy, boosts)
        return self.search_df(
            terms, k, role_boosts=role_boosts, term_boosts=term_boosts
        )
