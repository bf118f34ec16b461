"""Top-k BM25 scoring kernels (numpy) over encoded posting chunks.

Two exact strategies, both rank-identical to the brute-force oracle:

- ``exhaustive``: decode every chunk of every query term, score every
  matching doc. The referee path and the fast path for short postings.
- ``blockmax``: block-max pruned scoring. Per-128-posting blocks carry
  (last_doc, max_tf, min_dl) — an avgdl-free impact ceiling (see
  ``bm25.tf_norm_ceiling``). We sweep the doc-ordinal space as elementary
  intervals bounded by block edges, process intervals in descending
  score-ceiling order, and STOP as soon as the best unprocessed interval's
  ceiling can no longer beat the current kth score. Chunks are decoded
  lazily, only when an interval touching them is actually scored — the
  WAND/BMW idea (skip whole blocks of hot terms) re-expressed as a
  vectorized sweep instead of a per-document pointer walk, which is what
  makes it fast in numpy. Exactness: every skipped interval has
  sum-of-ceilings < current theta, and ceilings dominate true scores
  (boost-inclusive), so no top-k doc can be skipped.

The reference delegates all of this to Lucene's WAND/impacts
(``portal_records_index_schema.json`` text fields; scored queries like
``IndexerServiceIT.java:219-238``); we rebuild it because Spark has no
inverted-index primitive.

Public literature the design follows: Broder et al., "Efficient query
evaluation using a two-level retrieval process" (CIKM 2003, WAND);
Ding & Suel, "Faster top-k document retrieval using block-max indexes"
(SIGIR 2011, BMW — our block metadata is exactly their per-block maxima,
impact-ordered as avgdl-free (max_tf, min_dl) pairs like Lucene's
competitive impacts); the vectorized interval sweep follows the
columnar/vectorized-inverted-index direction of ICDE 2025's "Columnar
Formatted Inverted Index" (PAPERS.md) rather than a pointer-walking DAAT
loop, because numpy rewards batch-at-a-time work.

Postings reach the kernels as ``TermChunks``: one term's chunk rows as
flat numpy arrays with per-chunk offsets, cut from a ``ChunkColumns`` —
an Arrow table of chunk rows converted to numpy once. The cut is a view
for the driver's resident term buckets and a compact copy in
``term_chunks`` (the driver's per-term cache, one Spark task's rows).
No pandas object sits between the fetch and the top-k.

Every query operator runs through one kernel: ``evaluate`` (top-k, or
the full matching-doc vector, with or without a phrase filter) and
``count``, both driven by a ``Plan``. The driver calls them once over
the whole corpus; the distributed path calls them once per segment task
— the shard-local evaluation of Lucene's
``Weight.scorer(LeafReaderContext)``.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .. import bm25, codec


def sort_chunks(chunks: pa.Table) -> pa.Table:
    """Posting-chunk rows in the order ``TermView`` binary-searches: by
    term, then by doc range. Segments hold disjoint, consecutive ordinal
    ranges (a merge only folds consecutive batches), so ``min_doc`` alone
    orders a term's chunks globally. The segment label does not: a merge
    labels its output after every batch, including newer unmerged ones
    that hold higher ordinals."""
    return chunks.take(
        pc.sort_indices(chunks, [("term", "ascending"), ("min_doc", "ascending")])
    )


class TermChunks:
    """One term's posting chunks in ``sort_chunks`` order as flat numpy
    arrays. Per chunk: ``seg``, ``min_doc``, ``max_doc``, ``df_chunk``.
    Each variable-length column is one contiguous array plus per-chunk
    offsets (chunk i is ``x[x_off[i]:x_off[i + 1]]``): the doc/tf (and
    positions) varint buffers, ``run_lens`` and the block metadata
    ``block_last``/``block_max_tf``/``block_min_dl`` (``block_off``)."""

    __slots__ = (
        "seg", "min_doc", "max_doc", "df_chunk",
        "doc_buf", "doc_off", "tf_buf", "tf_off", "pos_buf", "pos_off",
        "run_lens", "run_off",
        "block_last", "block_max_tf", "block_min_dl", "block_off",
    )

    def __len__(self) -> int:
        return len(self.min_doc)


def _empty_chunks() -> TermChunks:
    c = TermChunks()
    z, off = np.zeros(0, np.int64), np.zeros(1, np.int64)
    c.seg = c.min_doc = c.max_doc = c.df_chunk = z
    c.doc_buf = c.tf_buf = np.zeros(0, np.uint8)
    c.doc_off = c.tf_off = c.run_off = c.block_off = off
    c.pos_buf, c.pos_off = None, None
    c.run_lens = c.block_last = z
    c.block_max_tf = c.block_min_dl = np.zeros(0, np.float64)
    return c


EMPTY_CHUNKS = _empty_chunks()


def _binary(col: pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """(data bytes, row offsets into them) of a binary column, zero-copy."""
    arr = col.combine_chunks()
    _, off_buf, data_buf = arr.buffers()
    wide = pa.types.is_large_binary(arr.type)
    off = np.frombuffer(off_buf, np.int64 if wide else np.int32)
    off = off[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    data = np.frombuffer(data_buf, np.uint8) if data_buf is not None else np.zeros(0, np.uint8)
    return data, off


def _lists(col: pa.ChunkedArray, dtype) -> tuple[np.ndarray, np.ndarray]:
    """(flat values, row offsets into them) of a list column."""
    arr = col.combine_chunks()
    return (
        arr.values.to_numpy(zero_copy_only=False).astype(dtype, copy=False),
        arr.offsets.to_numpy().astype(np.int64),
    )


def _rows(
    data: np.ndarray, off: np.ndarray, a: int, b: int, copy: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Rows [a, b) of a (flat values, row offsets) column, with offsets
    rebased to 0: a view of the values, or a compact copy."""
    o = off[a : b + 1]
    rows = data[o[0] : o[-1]]
    return (rows.copy() if copy else rows), o - o[0]


class ChunkColumns:
    """A ``sort_chunks``-ordered posting-chunk table as flat numpy arrays,
    converted from Arrow once (zero-copy where the Arrow type already has
    the kernel's dtype): the per-chunk columns, and each variable-length
    column as (flat values, row offsets). ``terms`` holds the table's
    sorted unique terms as a fixed-width UTF-8 ``bytes_`` array and
    ``ends`` one past each term's last row, so a term's rows are found
    with one ``searchsorted`` and no per-term Python object is kept."""

    __slots__ = (
        "terms", "ends", "seg", "min_doc", "max_doc", "df_chunk",
        "doc", "tf", "pos", "run_lens", "block_last", "block_max_tf", "block_min_dl",
    )

    def __init__(self, table: pa.Table):
        runs = pc.run_end_encode(table.column("term").combine_chunks())
        self.ends = runs.run_ends.to_numpy().astype(np.int64)
        self.terms = np.array(
            runs.values.cast(pa.binary()).to_numpy(zero_copy_only=False), dtype=np.bytes_
        )
        self.seg, self.min_doc, self.max_doc, self.df_chunk = (
            table.column(c).to_numpy().astype(np.int64, copy=False)
            for c in ("seg", "min_doc", "max_doc", "df_chunk")
        )
        self.doc = _binary(table.column("doc_bytes"))
        self.tf = _binary(table.column("tf_bytes"))
        has_pos = "pos_bytes" in table.column_names
        self.pos = _binary(table.column("pos_bytes")) if has_pos else None
        self.run_lens = _lists(table.column("run_lens"), np.int64)
        self.block_last = _lists(table.column("block_last"), np.int64)
        self.block_max_tf = _lists(table.column("block_max_tf"), np.float64)[0]
        self.block_min_dl = _lists(table.column("block_min_dl"), np.float64)[0]
        # a resident bucket's views are shared by every query: a kernel
        # that wrote through one would corrupt later results
        for x in (self.seg, self.min_doc, self.max_doc, self.df_chunk, *self.doc, *self.tf,
                  *(self.pos or ()), *self.run_lens, *self.block_last, self.block_max_tf,
                  self.block_min_dl):
            x.flags.writeable = False

    def cut(self, i: int, copy: bool = False) -> TermChunks:
        """The ``i``-th term's rows as ``TermChunks``: views of the flat
        arrays, or with ``copy`` compact copies that hold no reference to
        the other terms' buffers."""
        a, b = (int(self.ends[i - 1]) if i else 0), int(self.ends[i])
        c = TermChunks()
        c.seg, c.min_doc, c.max_doc, c.df_chunk = (
            x[a:b].copy() if copy else x[a:b]
            for x in (self.seg, self.min_doc, self.max_doc, self.df_chunk)
        )
        c.doc_buf, c.doc_off = _rows(*self.doc, a, b, copy)
        c.tf_buf, c.tf_off = _rows(*self.tf, a, b, copy)
        c.pos_buf, c.pos_off = (None, None) if self.pos is None else _rows(*self.pos, a, b, copy)
        c.run_lens, c.run_off = _rows(*self.run_lens, a, b, copy)
        c.block_last, c.block_off = _rows(*self.block_last, a, b, copy)
        lo, hi = self.block_last[1][a], self.block_last[1][b]  # the block columns share offsets
        c.block_max_tf, c.block_min_dl = (
            x[lo:hi].copy() if copy else x[lo:hi] for x in (self.block_max_tf, self.block_min_dl)
        )
        return c

    def get(self, term: str) -> TermChunks:
        """``term``'s chunks as views (``EMPTY_CHUNKS`` when absent)."""
        key = term.encode()
        i = int(np.searchsorted(self.terms, key))
        if i == len(self.terms) or self.terms[i] != key:
            return EMPTY_CHUNKS
        return self.cut(i)


def term_chunks(table: pa.Table) -> dict[str, TermChunks]:
    """Split a ``sort_chunks``-ordered posting-chunk table into per-term
    ``TermChunks``. Columns convert to numpy once for the whole table;
    each term then gets a compact copy of its rows, so it holds no
    reference to the other terms' buffers."""
    cols = ChunkColumns(table)
    return {t.decode(): cols.cut(i, copy=True) for i, t in enumerate(cols.terms.tolist())}


class TermView:
    """One query term's postings: chunk metadata up-front, lazy decode.

    ``chunks`` is the term's ``TermChunks`` — disjoint, ordered doc
    ranges (the salted skew-split re-assembled by ordered concatenation).
    """

    def __init__(self, term: str, chunks: TermChunks, df: int, n_docs: int,
                 boost: float = 1.0):
        self.term = term
        self.df = int(df)
        self.boost = float(boost)
        # query-time term boost folds into the idf weight (ES ^boost
        # semantics: score contribution = boost * idf * tfn), so block
        # ceilings built from self.idf stay valid boost-inclusive
        self.idf = float(bm25.idf(self.df, n_docs)) * self.boost
        self.chunks = chunks
        self._decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._all_decoded: tuple[np.ndarray, np.ndarray] | None = None
        self.chunk_min = chunks.min_doc
        self.chunk_max = chunks.max_doc

    # ---- block metadata (no decode needed) --------------------------------
    def block_table(self, avgdl: float) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(start_doc, last_doc, ceiling) per block across all chunks.
        ceiling = idf * tf_norm_ceiling(max_tf, min_dl) — boost applied by
        the caller. A block starts one past its predecessor's last doc,
        except a chunk's first block, which starts at the chunk's
        ``min_doc``."""
        c = self.chunks
        last = c.block_last
        start = np.empty_like(last)
        if len(last):
            start[1:] = last[:-1] + 1
            start[c.block_off[:-1]] = c.min_doc
        ceil = self.idf * bm25.tf_norm_ceiling(
            c.block_max_tf, np.maximum(c.block_min_dl, 1.0), avgdl
        )
        return start, last, ceil

    # ---- decode ------------------------------------------------------------
    def _decode_chunk(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        got = self._decoded.get(i)
        if got is None:
            c = self.chunks
            gaps = codec.varint_decode(c.doc_buf[c.doc_off[i] : c.doc_off[i + 1]])
            run_lens = c.run_lens[c.run_off[i] : c.run_off[i + 1]]
            run_starts = np.concatenate(([0], np.cumsum(run_lens)[:-1]))
            docs = codec.delta_decode_multi(gaps, run_starts)
            tfs = codec.varint_decode(
                c.tf_buf[c.tf_off[i] : c.tf_off[i + 1]]
            ).astype(np.int64)
            got = (docs, tfs)
            self._decoded[i] = got
        return got

    def decode_all(self) -> tuple[np.ndarray, np.ndarray]:
        """All postings of the term in one decode pass over the term's
        contiguous doc and tf buffers (chunk boundaries are run
        boundaries — each run's first gap is absolute, and LEB128 is
        self-delimiting, so joint decode equals per-chunk decode exactly).
        A per-chunk loop paid ~25 numpy passes per chunk; a 50-term
        suggest expansion touches hundreds of chunks per query."""
        got = self._all_decoded
        if got is None:
            c = self.chunks
            run_starts = np.concatenate(([0], np.cumsum(c.run_lens)[:-1]))
            gaps = codec.varint_decode(c.doc_buf)
            docs = codec.delta_decode_multi(gaps, run_starts)
            tfs = codec.varint_decode(c.tf_buf).astype(np.int64)
            got = (docs, tfs)
            self._all_decoded = got
        return got

    def gather(self, lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
        """Postings with lo <= doc_ord <= hi; decodes only touched chunks."""
        first = int(np.searchsorted(self.chunk_max, lo, side="left"))
        last = int(np.searchsorted(self.chunk_min, hi, side="right"))
        docs_out, tfs_out = [], []
        for i in range(first, last):
            docs, tfs = self._decode_chunk(i)
            a = int(np.searchsorted(docs, lo, side="left"))
            b = int(np.searchsorted(docs, hi, side="right"))
            if b > a:
                docs_out.append(docs[a:b])
                tfs_out.append(tfs[a:b])
        if not docs_out:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        return np.concatenate(docs_out), np.concatenate(tfs_out)

    def positions_for(self, want_docs: np.ndarray) -> dict[int, np.ndarray]:
        """doc_ord -> positions array (requires with_positions index)."""
        c = self.chunks
        out: dict[int, np.ndarray] = {}
        for i in range(len(c)):
            if c.pos_buf is None:
                raise ValueError("index was built without positions")
            docs, _ = self._decode_chunk(i)
            mask = np.isin(docs, want_docs)
            if not mask.any():
                continue
            plists = codec.decode_positions(
                c.pos_buf[c.pos_off[i] : c.pos_off[i + 1]], len(docs)
            )
            for j in np.flatnonzero(mask):
                out[int(docs[j])] = plists[j]
        return out


def _score_gathered(
    views: list[TermView],
    gathered: list[tuple[np.ndarray, np.ndarray]],
    dl_of: np.ndarray,
    dl_base: int,
    avgdl: float,
    boost_of: np.ndarray | None,
    mode: str,
    deleted: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact-score the union of gathered postings (one (docs, tfs) pair per
    term, term order = sorted — fixed float64 summation order).
    ``dl_of[doc_ord - dl_base]`` is the doc length. Returns (doc_ords,
    scores) for docs matching the boolean mode."""
    all_docs = np.concatenate([g[0] for g in gathered])
    if len(all_docs) == 0:
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    uniq, inv = np.unique(all_docs, return_inverse=True)
    # one flat vectorized pass + a single bincount instead of per-term
    # np.add.at loops: add.at is an order of magnitude slower than
    # bincount's sequential accumulate, and both add contributions in
    # the same term-major array order, so float64 sums are bit-identical
    # (50-term suggest expansions spent ~2/3 of their latency here —
    # guide §1.2 per-task work)
    all_tfs = np.concatenate([g[1] for g in gathered]).astype(np.float64)
    lens = [len(g[0]) for g in gathered]
    idf_flat = np.repeat(
        np.asarray([v.idf for v in views], dtype=np.float64), lens
    )
    all_dl = dl_of[all_docs - dl_base].astype(np.float64)
    contrib = idf_flat * bm25.tf_norm(all_tfs, all_dl, avgdl)
    scores = np.bincount(inv, weights=contrib, minlength=len(uniq))
    if mode == "and":
        counts = np.bincount(inv, minlength=len(uniq))
        keep = counts == len(views)
        uniq, scores = uniq[keep], scores[keep]
    if deleted is not None and len(deleted) and len(uniq):
        # tombstoned docs (streaming delete/upsert) never enter the heap
        keep = ~np.isin(uniq, deleted, assume_unique=False)
        uniq, scores = uniq[keep], scores[keep]
    if boost_of is not None and len(uniq):
        scores = scores * boost_of[uniq - dl_base]
    return uniq, scores


def exhaustive_topk(
    views: list[TermView],
    dl_of: np.ndarray,
    avgdl: float,
    k: int,
    *,
    dl_base: int = 0,
    boost_of: np.ndarray | None = None,
    mode: str = "or",
    deleted: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    views = sorted(views, key=lambda v: v.term)
    if mode == "and" and any(v.df == 0 for v in views):
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    views = [v for v in views if v.df > 0]
    if not views:
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    gathered = [v.decode_all() for v in views]
    docs, scores = _score_gathered(
        views, gathered, dl_of, dl_base, avgdl, boost_of, mode, deleted
    )
    return bm25.topk_desc(scores, docs, k)


def blockmax_topk(
    views: list[TermView],
    dl_of: np.ndarray,
    avgdl: float,
    k: int,
    *,
    dl_base: int = 0,
    boost_of: np.ndarray | None = None,
    max_boost: float = 1.0,
    mode: str = "or",
    deleted: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Block-max pruned exact top-k (see module docstring)."""
    views = sorted(views, key=lambda v: v.term)
    if mode == "and" and any(v.df == 0 for v in views):
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    views = [v for v in views if v.df > 0]
    if not views:
        return np.zeros(0, np.int64), np.zeros(0, np.float64)

    # ---- elementary intervals from block edges -----------------------------
    tables = [v.block_table(avgdl) for v in views]
    edges = np.unique(
        np.concatenate(
            [t[0] for t in tables] + [t[1] + 1 for t in tables]
        )
    )
    n_iv = len(edges) - 1
    if n_iv <= 0:
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    iv_lo = edges[:-1]
    iv_hi = edges[1:] - 1  # inclusive
    ub = np.zeros(n_iv, dtype=np.float64)
    covered = np.zeros(n_iv, dtype=np.int64)
    for starts, lasts, ceils in tables:
        if len(lasts) == 0:
            continue  # term absent from this doc range (e.g. this segment)
        # block containing iv_lo: the first block with last >= iv_lo
        bi = np.searchsorted(lasts, iv_lo, side="left")
        ok = (bi < len(lasts)) & (starts[np.minimum(bi, len(lasts) - 1)] <= iv_lo)
        bi = np.minimum(bi, len(lasts) - 1)
        ub += np.where(ok, ceils[bi], 0.0)
        covered += ok
    ub *= max_boost
    if mode == "and":
        ub = np.where(covered == len(views), ub, 0.0)

    order = np.argsort(-ub, kind="stable")
    order = order[ub[order] > 0.0]  # zero-ceiling intervals hold no postings
    top_docs = np.zeros(0, np.int64)
    top_scores = np.zeros(0, np.float64)
    theta = -np.inf
    # geometric batching: score 8, 16, 32... intervals per Python iteration.
    # Exactness is unchanged (scoring extra intervals never removes a doc);
    # the batch boundary check keeps the early exit: stop when the best
    # unscored interval's ceiling is strictly below theta.
    pos, batch = 0, 8
    while pos < len(order):
        if len(top_scores) >= k and ub[order[pos]] < theta:
            break  # exact early exit (strict <: theta-ties must be scored)
        take = order[pos : pos + batch]
        pos += len(take)
        batch = min(batch * 2, 4096)
        # gather each term once over the union of the taken intervals
        gathered_parts = [[] for _ in views]
        for idx in take:
            lo, hi = int(iv_lo[idx]), int(iv_hi[idx])
            for vi, v in enumerate(views):
                g = v.gather(lo, hi)
                if len(g[0]):
                    gathered_parts[vi].append(g)
        gathered = [
            (
                np.concatenate([p[0] for p in parts]) if parts else np.zeros(0, np.int64),
                np.concatenate([p[1] for p in parts]) if parts else np.zeros(0, np.int64),
            )
            for parts in gathered_parts
        ]
        docs, scores = _score_gathered(
            views, gathered, dl_of, dl_base, avgdl, boost_of, mode, deleted
        )
        if len(docs) == 0:
            continue
        top_docs = np.concatenate([top_docs, docs])
        top_scores = np.concatenate([top_scores, scores])
        top_docs, top_scores = bm25.topk_desc(top_scores, top_docs, k)
        if len(top_scores) >= k:
            theta = top_scores[-1]
    return top_docs, top_scores


def phrase_docs(views: list[TermView], mode_docs: np.ndarray) -> np.ndarray:
    """Docs (subset of mode_docs = AND-intersection) where the terms occur
    adjacently in order — match_phrase (``GeoNetworkServiceImpl.java:118``,
    used inside bool.filter, i.e. unscored)."""
    if not views:
        return np.zeros(0, np.int64)
    pos_maps = [v.positions_for(mode_docs) for v in views]
    hits = []
    for d in mode_docs:
        cand = pos_maps[0].get(int(d))
        if cand is None:
            continue
        ok = True
        for i in range(1, len(views)):
            nxt = pos_maps[i].get(int(d))
            if nxt is None:
                ok = False
                break
            cand = cand[np.isin(cand + i, nxt)]
            if len(cand) == 0:
                ok = False
                break
        if ok and len(cand):
            hits.append(int(d))
    return np.array(hits, dtype=np.int64)


def _no_docs() -> tuple[np.ndarray, np.ndarray]:
    return np.zeros(0, np.int64), np.zeros(0, np.float64)


@dataclass(frozen=True)
class Plan:
    """One query, as every executor evaluates it. ``terms`` are sorted and
    unique (the fixed float64 summation order); ``dfs`` are their
    corpus-wide document frequencies. ``k`` None asks for the full
    matching-doc vector, docs ascending. ``phrase`` holds the phrase terms
    in query order and forces ``mode`` "and"; ``boosts`` are the term
    boosts, aligned with ``terms``."""

    terms: tuple[str, ...]
    dfs: tuple[int, ...]
    n_docs: int
    avgdl: float
    mode: str
    k: int | None
    strategy: str
    phrase: tuple[str, ...] | None
    boosts: tuple[float, ...]

    @classmethod
    def build(
        cls,
        dfs: dict[str, int],
        n_docs: int,
        avgdl: float,
        *,
        mode: str = "or",
        k: int | None = None,
        strategy: str = "exhaustive",
        phrase: list[str] | None = None,
        term_boosts: dict[str, float] | None = None,
    ) -> "Plan":
        """The plan over the terms of ``dfs`` (term → df).
        ``strategy="auto"`` picks block-max pruning for few-term queries
        over long postings (where skipping pays) and exhaustive scoring for
        many-term expansions or short postings (where the sweep's
        bookkeeping costs more than scoring everything) — the same
        query-shape dispatch Lucene applies to WAND. Both are exact."""
        terms = tuple(sorted(dfs))
        counts = tuple(int(dfs[t]) for t in terms)
        if strategy == "auto":
            many = sum(counts) > 16 * codec.BLOCK_SIZE
            strategy = "blockmax" if len(terms) <= 8 and many else "exhaustive"
        tb = term_boosts or {}
        return cls(
            terms, counts, int(n_docs), float(avgdl),
            mode="and" if phrase else mode,
            k=k,
            strategy=strategy,
            phrase=tuple(phrase) if phrase else None,
            boosts=tuple(float(tb.get(t, 1.0)) for t in terms),
        )

    def matches_nothing(self) -> bool:
        """True when no doc can match: no terms, no term with postings, or
        a conjunction with a term that has none."""
        if self.mode == "and":
            return not self.terms or 0 in self.dfs
        return not any(self.dfs)

    def views(self, chunks: dict[str, TermChunks]) -> list[TermView]:
        """One ``TermView`` per plan term over the given chunks (a term
        with no chunks there gets an empty view), in term order."""
        return [
            TermView(t, chunks.get(t, EMPTY_CHUNKS), df, self.n_docs, boost=b)
            for t, df, b in zip(self.terms, self.dfs, self.boosts)
        ]


def evaluate(
    plan: Plan,
    chunks: dict[str, TermChunks],
    dl_of: np.ndarray,
    *,
    dl_base: int = 0,
    boost_of: np.ndarray | None = None,
    deleted: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The query kernel over one ordinal range: ``chunks`` are its posting
    chunks per term, ``dl_of[doc_ord - dl_base]`` its doc lengths and
    ``boost_of`` (same indexing) its role/tool boosts. Tombstoned
    ``deleted`` docs never match. Returns (doc_ords, scores): the top
    ``plan.k`` in (score desc, doc_ord asc) order, or every matching doc
    ascending when ``plan.k`` is None.

    A phrase plan first narrows the conjunction to the docs where the
    phrase terms occur adjacently in order, then scores those hits. The
    block-max ceiling takes the largest boost of ``boost_of``, which
    bounds every doc's role × tool product."""
    if plan.matches_nothing():
        return _no_docs()
    views = plan.views(chunks)
    if plan.phrase is None and plan.k is not None:
        kw = dict(dl_base=dl_base, boost_of=boost_of, mode=plan.mode, deleted=deleted)
        if plan.strategy == "blockmax":
            if boost_of is not None and len(boost_of):
                kw["max_boost"] = float(boost_of.max())
            return blockmax_topk(views, dl_of, plan.avgdl, plan.k, **kw)
        return exhaustive_topk(views, dl_of, plan.avgdl, plan.k, **kw)
    views = [v for v in views if v.df > 0]
    hits = None
    if plan.phrase is not None:
        by_term = {v.term: v for v in views}
        ordered = [by_term[t] for t in plan.phrase]
        inter = reduce(np.intersect1d, [v.decode_all()[0] for v in ordered])
        hits = phrase_docs(ordered, inter) if len(ordered) > 1 else inter
        if deleted is not None and len(deleted):
            hits = hits[~np.isin(hits, deleted)]
        if len(hits) == 0:
            return _no_docs()
    docs, scores = _score_gathered(
        views, [v.decode_all() for v in views], dl_of, dl_base, plan.avgdl,
        boost_of, plan.mode, deleted,
    )
    if hits is not None:
        keep = np.isin(docs, hits)
        docs, scores = docs[keep], scores[keep]
        if plan.k is not None:
            docs, scores = bm25.topk_desc(scores, docs, plan.k)
    return docs, scores


def count(
    plan: Plan, chunks: dict[str, TermChunks], deleted: np.ndarray | None = None
) -> int:
    """Docs matching the plan's terms (``mode`` "or": any, "and": all)
    among ``chunks``, tombstoned ``deleted`` docs excluded."""
    sets = [v.decode_all()[0] for v in plan.views(chunks) if len(v.chunks)]
    if not sets or (plan.mode == "and" and len(sets) < len(plan.terms)):
        return 0
    acc = reduce(np.intersect1d if plan.mode == "and" else np.union1d, sets)
    if deleted is not None and len(deleted):
        acc = acc[~np.isin(acc, deleted)]
    return int(len(acc))
