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
  ``phrase_search_df`` / ``suggest_df``): posting rows
  for the query terms are cogrouped with doc_stats by segment, and each
  Spark task runs the same kernel over its segment (= shard), emitting a
  local top-k or its full score vector; a global sort of the tiny union
  gathers the final top-k — Lucene's shard fan-out/merge mapped 1:1 onto
  Spark partitions. Synonym expansion, term/role/tool boosts, phrase
  adjacency and counts run here with no O(corpus) driver state. The
  public ``search``/``count``/``phrase_search``/``suggest`` auto-dispatch
  between executors on corpus size.

The term dictionary is read one way for both executors
(``_dictionary_slices``), and the same dispatch picks its source: the
resident sorted arrays below ``driver_max_docs``, above it a pyarrow scan
of term_stats pruned by its ``tlen`` partitions and term row-group
statistics — no Spark job either way. Prefix, fuzzy, wildcard and regexp
expansion and the global dfs are each written once over it. On the scan
source driver memory is O(one record batch + max_expansions); driver CPU
is O(scanned tlen/term range), so a regexp with no literal prefix scans
the whole dictionary on the driver. Python ``re`` is the one pattern
dialect of term expansion.
"""

from __future__ import annotations

import operator
import os
import re
from collections.abc import Callable, Iterable, Iterator
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark import StorageLevel
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
# one packed row of doc norms per segment (see IndexSearcher._doc_side)
_DOC_SIDE = T.StructType([
    T.StructField("seg", T.IntegerType()),
    T.StructField("base", T.LongType()),
    T.StructField("n_docs", T.IntegerType()),
    T.StructField("dl_bytes", T.BinaryType()),
    T.StructField("role_bytes", T.BinaryType()),
    T.StructField("tool_bytes", T.BinaryType()),
    T.StructField("role_dict", T.ArrayType(T.StringType())),
    T.StructField("tool_dict", T.ArrayType(T.StringType())),
])
# the top code point: a prefix's terms all sort at or below prefix + this
_MAX_CHAR = "\U0010FFFF"


class SnapshotExpiredError(RuntimeError):
    """The searcher's term-dictionary snapshot was expired by later appends.

    Postings/doc_stats snapshots stay valid indefinitely (appends only ADD
    batch directories), but append_batch retains only the current and
    previous term-stats dictionary (Iceberg snapshot-expiry style), so a
    searcher older than one append horizon loses its dictionary files.
    Call ``refresh()`` (or open a new IndexSearcher) to continue."""


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
        self.term_stats_path = os.path.join(
            vdir, self.manifest.get("term_stats_dir", "term_stats")
        )
        self._postings_ds = pads.dataset(
            os.path.join(vdir, "postings"), partitioning="hive", format="parquet"
        )
        self._doc_ds = pads.dataset(
            os.path.join(vdir, "doc_stats"), partitioning="hive", format="parquet"
        )
        self._norms: dict | None = None
        import uuid as _uuid

        self._snapshot_token = _uuid.uuid4().hex  # see _doc_side
        self._term_dict: pd.DataFrame | None = None
        # (terms sorted, df, term lengths) of the resident dictionary
        self._dict_arrays: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None
        # term_stats as a pyarrow dataset, listed on the first scan (the
        # directory is versioned, so the listing cannot go stale)
        self._term_stats_ds: pads.FileSystemDataset | None = None
        self._chunk_cache: dict[str, scoring.TermChunks] = {}
        # tbucket -> postings fragments of self._postings_ds, grouped on
        # the first fetch; a bucket's footers are read on its first use
        self._bucket_frags: dict[int, list] | None = None
        self._bucket_bytes: dict[int, int] = {}
        # tbucket -> the whole bucket, resident until close() (see
        # _postings_map), and the footer bytes of those buckets
        self._resident: dict[int, scoring.ChunkColumns] = {}
        self._resident_bytes = 0
        self._df_cache: dict[str, int] = {}
        self._doc_side_df: DataFrame | None = None
        # Spark-side sources are opened ONCE per searcher, and EAGERLY (the
        # analogue of Lucene's long-lived segment readers): re-reading them
        # per query re-lists files and footers (~40% of warm distributed-
        # query latency at 500k docs), and a lazy first use would list the
        # files at some later moment, splicing a mid-append state into a
        # searcher whose stats and tombstones are as of open. SNAPSHOT
        # CONTRACT (Lucene point-in-time readers): appends only ADD batch
        # dirs and write a new versioned term_stats dir, and compaction
        # publishes a new version dir; the term dictionary of the current
        # and previous append is kept (SnapshotExpiredError).
        self._postings_src: DataFrame = self.spark.read.parquet(
            os.path.join(vdir, "postings")
        )
        self._doc_stats_src: DataFrame = self.spark.read.parquet(
            os.path.join(vdir, "doc_stats")
        )
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
        if self._bucket_frags is None:
            by_bucket: dict[int, list] = {}
            for f in self._postings_ds.get_fragments():
                b = pads.get_partition_keys(f.partition_expression)["tbucket"]
                by_bucket.setdefault(int(b), []).append(f)
            self._bucket_frags = by_bucket
        out = []
        for b in buckets:
            frags = self._bucket_frags.get(b, [])
            if b not in self._bucket_bytes:
                for f in frags:
                    f.ensure_complete_metadata()
                self._bucket_bytes[b] = sum(
                    rg.total_byte_size for f in frags for rg in f.row_groups
                )
            out.extend(frags)
        return out

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
        if self._term_dict is None:
            self._check_dictionary_snapshot()
            self._term_dict = (
                pads.dataset(self.term_stats_path, format="parquet")
                .to_table(columns=["term", "df", "total_tf"])
                .to_pandas()
                .sort_values("term")
                .reset_index(drop=True)
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

    def _check_dictionary_snapshot(self) -> None:
        """Raise SnapshotExpiredError (not a FileNotFoundError mid-scan)
        when this searcher's term-stats directory was expired by the
        current+previous retention of later appends. Cheap local-stat;
        resident caches (term_dictionary already loaded) keep working."""
        if not os.path.isdir(self.term_stats_path):
            raise SnapshotExpiredError(
                f"term-stats snapshot {self.term_stats_path} was expired by "
                "later appends (retention keeps the current + previous "
                "dictionary). Call refresh() or open a new IndexSearcher."
            )

    def _term_stats_fragments(self, filt: pc.Expression | None) -> list:
        """The term_stats files a scan with filter ``filt`` opens: the
        ``tlen`` partitions the filter leaves."""
        if self._term_stats_ds is None:
            self._term_stats_ds = pads.dataset(
                self.term_stats_path, partitioning="hive", format="parquet"
            )
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
        they are the record batches of a pyarrow scan of term_stats: the
        ``tlen`` filter prunes partitions and the term ranges prune row
        groups by their min/max statistics, and the driver holds one
        batch at a time."""
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
        self._check_dictionary_snapshot()
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
        ds = pads.FileSystemDataset(
            self._term_stats_fragments(filt), self._term_stats_ds.schema,
            self._term_stats_ds.format, self._term_stats_ds.filesystem,
        )
        for rb in ds.to_batches(columns=["term", "df"], filter=filt):
            t = rb.column("term")
            yield (
                t.to_numpy(zero_copy_only=False),
                rb.column("df").to_numpy(),
                pc.utf8_length(t).to_numpy(),
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
        from ..streaming.incremental import mask_tombstones

        df = mask_tombstones(self.doc_stats_df(), self.tombstones)
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
    # terms), everything else rides the segment cogroup.

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

    def _doc_side(self) -> DataFrame:
        """Seg-partitioned, persisted doc norms for the distributed path —
        the executor-resident analogue of Lucene's per-shard NORMS FILE:
        ONE packed row per segment (base ordinal + int32 dl array + int16
        role/tool code arrays as binary blobs) instead of one Arrow row
        per document. Per-query transfer is then ~8 B/doc of packed bytes
        with zero per-row Arrow/pandas overhead — at 10^9 docs the
        row-per-doc layout would stream the entire norms table through
        Python on EVERY query. The pack is paid once per searcher; the
        persisted HashPartitioning on seg matches the cogroup's required
        distribution, so repeated queries skip the doc-side shuffle
        entirely. Packing relies on the build invariant that each segment
        covers a dense doc_ord range (asserted per segment).

        Role/tool values are dictionary-encoded with SEGMENT-LOCAL code
        maps shipped inside each packed row, so building the doc side is
        ONE corpus scan with no global vocabulary pass and no driver
        state; the scoring kernel turns query-time boost dicts into
        O(#codes) lookup tables from the row's own dictionaries. A
        searcher is a point-in-time snapshot; refresh() to see appends."""
        if self._doc_side_df is None:
            ds = self.doc_stats_df().select("seg", "doc_ord", "dl", "role", "tool")

            # unannotated: pyspark warns when it cannot infer an eval type
            # from partial hints; bare functions get the grouped-map default
            def pack(key, pdf):
                pdf = pdf.sort_values("doc_ord")
                ords = pdf["doc_ord"].to_numpy(np.int64)
                base, n_rows = int(ords[0]), len(ords)
                span = int(ords[-1]) - base + 1
                if len(np.unique(ords)) != n_rows:  # not assert: -O
                    raise ValueError(
                        f"segment {key[0]} has duplicate doc ordinals — "
                        "packed norms would misalign"
                    )
                # SEGMENT-LOCAL dictionaries: codes only need to be
                # consistent within the packed row they ship with, so no
                # global vocabulary pass (or driver code state) exists at
                # all — the pack is ONE corpus scan total. Code 0 = null.
                rc, r_uniq = pd.factorize(pdf["role"], use_na_sentinel=True)
                tc, t_uniq = pd.factorize(pdf["tool"], use_na_sentinel=True)
                if max(len(r_uniq), len(t_uniq)) >= 32_767:  # int16 wrap
                    raise ValueError(
                        f"segment {key[0]}: role/tool cardinality "
                        f"({len(r_uniq)}/{len(t_uniq)}) exceeds int16 codes — "
                        "these are bounded categoricals by schema; widen the "
                        "code dtype if that ever changes"
                    )
                dl = pdf["dl"].to_numpy(np.int32)
                r_codes = (rc + 1).astype("<i2")
                t_codes = (tc + 1).astype("<i2")
                if span != n_rows:
                    # expunged holes (index/merge.py): densify over the
                    # span — holes get dl 0 / code 0 (null) and are never
                    # read, since expunged docs left the posting lists
                    pos = ords - base
                    d = np.zeros(span, dtype=np.int32); d[pos] = dl
                    r = np.zeros(span, dtype="<i2"); r[pos] = r_codes
                    t = np.zeros(span, dtype="<i2"); t[pos] = t_codes
                    dl, r_codes, t_codes = d, r, t
                return pd.DataFrame(
                    [
                        {
                            "seg": int(key[0]),
                            "base": base,
                            "n_docs": n_rows,
                            "dl_bytes": dl.astype("<i4").tobytes(),
                            "role_bytes": r_codes.tobytes(),
                            "tool_bytes": t_codes.tobytes(),
                            "role_dict": [str(v) for v in r_uniq],
                            "tool_dict": [str(v) for v in t_uniq],
                        }
                    ]
                )

            n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            self._doc_side_df = (
                ds.groupBy("seg")
                .applyInPandas(pack, _DOC_SIDE)
                # explicit repartition: the packed rows are tiny, so AQE
                # would coalesce the pack's shuffle to 1-2 partitions and
                # the cached partitioning would serialize the scoring
                # cogroup into 1-2 tasks; a user-specified repartition is
                # AQE-exempt and keeps the scoring stage n-wide
                .repartition(n, "seg")
                # snapshot token: Spark's CacheManager serves a cached
                # plan to any LATER plan with the same result — two
                # searchers open over one index across an append/merge
                # would silently share ONE doc-side cache (the older
                # snapshot's), dropping the newer searcher's segments.
                # A per-searcher literal makes the plans distinct; the
                # scoring kernels read columns by name and ignore it.
                .withColumn("_snap", F.lit(self._snapshot_token))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        return self._doc_side_df

    def refresh(self) -> "IndexSearcher":
        """Reopen at the CURRENT state of the index (Lucene's
        DirectoryReader.openIfChanged): releases this searcher's
        executor-side caches and returns a fresh point-in-time searcher
        that sees all appends/deletes/compactions committed since this
        one opened."""
        self.close()
        return IndexSearcher(self.spark, self.index_dir)

    def close(self) -> None:
        """Release executor-side caches (the persisted doc-side norms) and
        the resident term buckets."""
        self._resident.clear()
        self._resident_bytes = 0
        if self._doc_side_df is not None:
            self._doc_side_df.unpersist()
            self._doc_side_df = None

    def _postings_df(self, terms: list[str]) -> DataFrame:
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        return (
            self._postings_src
            .filter(F.col("tbucket").isin(buckets) & F.col("term").isin(terms))
            .select(*self._posting_cols())
        )

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

    def _segment_scores(
        self,
        plan: scoring.Plan,
        role_boosts: dict[str, float] | None = None,
        tool_boosts: dict[str, float] | None = None,
    ) -> DataFrame:
        """(doc_ord, score) rows of ``scoring.evaluate``, run once per
        segment task: the plan terms' posting rows are cogrouped by
        segment with the packed doc side, whose base ordinal, doc lengths
        and role/tool codes each task unpacks."""
        rb, tb = role_boosts or {}, tool_boosts or {}
        tombstones = self.tombstones  # small; broadcast-join a DF if huge

        def task(key, pq: pd.DataFrame, dq: pd.DataFrame) -> pd.DataFrame:
            if len(pq) == 0 or len(dq) == 0:
                return pd.DataFrame({"doc_ord": [], "score": []})
            r0 = dq.iloc[0]
            boost_of = None
            if rb or tb:
                # boost dicts → O(#codes) lookup tables built from the
                # row's SEGMENT-LOCAL dictionaries (code 0 = null → 1.0)
                boost_of = (
                    _boost_lut(r0["role_dict"], rb)[
                        np.frombuffer(r0["role_bytes"], dtype="<i2")]
                    * _boost_lut(r0["tool_dict"], tb)[
                        np.frombuffer(r0["tool_bytes"], dtype="<i2")]
                )
            docs, scores = scoring.evaluate(
                plan, scoring.pandas_chunks(pq),
                np.frombuffer(r0["dl_bytes"], dtype="<i4").astype(np.int64),
                dl_base=int(r0["base"]), boost_of=boost_of, deleted=tombstones,
            )
            return pd.DataFrame({"doc_ord": docs, "score": scores})

        return (
            self._postings_df(list(plan.terms)).groupBy("seg")
            .cogroup(self._doc_side().groupBy("seg"))
            .applyInPandas(task, _SCORES)
        )

    def count_df(self, query: str | list[str], mode: str = "or") -> int:
        """Q7 count, distributed: ``scoring.count`` per segment over the
        pruned posting chunks (each doc lives in exactly one segment, so
        segment counts sum exactly; a count needs no doc side).
        Single-term, tombstone-free counts short-cut to the term
        dictionary row — no postings decoded at all."""
        plan = self._dist_plan(query, mode=mode)
        if plan.matches_nothing():
            return 0
        if len(plan.terms) == 1 and not len(self.tombstones):
            return plan.dfs[0]
        tombstones = self.tombstones
        per_seg = (
            self._postings_df(list(plan.terms))
            .groupBy("seg")
            .applyInPandas(
                lambda pdf: pd.DataFrame(
                    {"n": [scoring.count(plan, scoring.pandas_chunks(pdf), tombstones)]}
                ),
                _COUNT,
            )
        )
        row = per_seg.agg(F.sum("n").alias("total")).collect()[0]
        return int(row["total"] or 0)

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
        bounds), scoring from the segment cogroup."""
        terms, term_boosts = self._bool_prefix_terms(query, fuzzy, boosts)
        return self.search_df(
            terms, k, role_boosts=role_boosts, term_boosts=term_boosts
        )
