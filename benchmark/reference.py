"""Exact BM25 reference owned by the benchmark.

Scores come from the generator's token-id matrix (``gen.Chunk``), never
from the index or the program's code, with the Lucene formula the engine
documents (k1=1.2, b=0.75, non-lossy float64 norms):

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfn(t,d) = tf / (tf + k1 * (1 - b + b * dl / avgdl))
    score    = role_boost(d) * sum over query terms (term-string order)

Top-k order is (score desc, doc ordinal asc). Ordinals follow the index's
documented allocation: a build numbers turns densely in (conv_id,
turn_idx) order; each append continues from one past the highest ordinal
ever allocated, again in (conv_id, turn_idx) order within the batch.

Tombstone semantics: a deleted or upserted-over turn stops matching at
once but stays *present* — it still counts in N, avgdl and df — until a
merge expunges it. Which tombstones a merge expunged is read from the
index after the merge (the merge policy is the program's to choose); the
reference only requires that the surviving tombstones are a subset of
the ones it issued.

Suggest follows the engine's documented expansion rule: every token but
the last is expanded by AUTO fuzziness (edit distance 0 below 3 chars, 1
for 3-5, 2 from 6) and the last by prefix, each keeping the 50
highest-df dictionary terms (ties: term ascending); the union is scored
as an OR query.
"""

from __future__ import annotations

import numpy as np

K1 = 1.2
B = 0.75
MAX_EXPANSIONS = 50
SCORE_RTOL = 1e-9


def auto_fuzziness(term: str) -> int:
    n = len(term)
    return 0 if n < 3 else (1 if n <= 5 else 2)


def within_edits(q: str, cands: np.ndarray, d: int) -> np.ndarray:
    """Levenshtein(q, c) <= d for an (n, L) uint32 matrix of equal-length
    candidates: Wagner-Fischer with the candidates as numpy lanes."""
    n, L = cands.shape
    qa = np.frombuffer(q.encode("utf-32-le"), dtype=np.uint32)
    prev = np.tile(np.arange(L + 1, dtype=np.int32), (n, 1))
    for i in range(1, len(qa) + 1):
        cur = np.empty_like(prev)
        cur[:, 0] = i
        for j in range(1, L + 1):
            cost = (cands[:, j - 1] != qa[i - 1]).astype(np.int32)
            cur[:, j] = np.minimum(
                np.minimum(prev[:, j] + 1, cur[:, j - 1] + 1), prev[:, j - 1] + cost
            )
        prev = cur
    return prev[:, L] <= d


class _Segment:
    """Inverted index of one added chunk: per term id, the (ord, tf)
    postings of the chunk's turns."""

    def __init__(self, tok: np.ndarray, off: np.ndarray, ords: np.ndarray):
        doc = np.repeat(ords, np.diff(off))
        key = tok.astype(np.int64) * (1 << 40) + doc
        uk, tf = np.unique(key, return_counts=True)
        term = uk >> 40
        self.docs = uk & ((1 << 40) - 1)
        self.tfs = tf.astype(np.int64)
        self.term_ids, starts = np.unique(term, return_index=True)
        self.ptr = np.append(starts, len(term))
        self.posting_term = term

    def postings(self, tid: int) -> tuple[np.ndarray, np.ndarray]:
        i = np.searchsorted(self.term_ids, tid)
        if i == len(self.term_ids) or self.term_ids[i] != tid:
            return self.docs[:0], self.tfs[:0]
        a, b = self.ptr[i], self.ptr[i + 1]
        return self.docs[a:b], self.tfs[a:b]


class Reference:
    def __init__(self, words: np.ndarray):
        self.words = list(words)
        self.word_id = {w: i for i, w in enumerate(self.words)}
        self.segments: list[_Segment] = []
        self.next_ord = 0
        self.dl = np.zeros(0, np.int64)
        self.text_bytes = np.zeros(0, np.int64)  # UTF-8 bytes of each turn
        self.role = np.zeros(0, object)
        self.doc_id = np.zeros(0, object)
        self.key = np.zeros(0, object)  # (conv, turn) per ordinal
        self.conv = np.zeros(0, np.int64)
        self.present = np.zeros(0, bool)
        self.live = np.zeros(0, bool)
        self._dict_cache: tuple | None = None

    # ------------------------------------------------------------ mutation
    def add_word(self, word: str) -> int:
        self.words.append(word)
        self.word_id[word] = len(self.words) - 1
        self._dict_cache = None
        return len(self.words) - 1

    def add(self, chunk) -> np.ndarray:
        """Index a chunk (rows in (conv_id, turn_idx) order); returns the
        ordinals it received."""
        n = len(chunk)
        ords = np.arange(self.next_ord, self.next_ord + n, dtype=np.int64)
        self.next_ord += n
        self.segments.append(_Segment(chunk.tok, chunk.off, ords))
        self.dl = np.concatenate([self.dl, chunk.dl])
        wl = np.fromiter((len(w) for w in self.words), np.int64, len(self.words))
        per_turn = np.bincount(np.repeat(np.arange(n), chunk.dl), weights=wl[chunk.tok],
                               minlength=n).astype(np.int64) + np.maximum(chunk.dl - 1, 0)
        self.text_bytes = np.concatenate([self.text_bytes, per_turn])
        self.role = np.concatenate([self.role, chunk.role])
        self.doc_id = np.concatenate([self.doc_id, chunk.doc_ids()])
        self.conv = np.concatenate([self.conv, chunk.conv])
        keys = np.empty(n, dtype=object)
        keys[:] = [(int(c), int(t)) for c, t in zip(chunk.conv, chunk.turn)]
        self.key = np.concatenate([self.key, keys])
        self.present = np.concatenate([self.present, np.ones(n, bool)])
        self.live = np.concatenate([self.live, np.ones(n, bool)])
        self._changed()
        return ords

    def tombstone_keys(self, keys: set) -> int:
        hit = self.present & np.fromiter((k in keys for k in self.key), bool, len(self.key))
        self.live &= ~hit
        self._changed()
        return int(hit.sum())

    def tombstone_convs(self, convs) -> int:
        hit = self.present & np.isin(self.conv, np.asarray(list(convs), np.int64))
        self.live &= ~hit
        self._changed()
        return int(hit.sum())

    def tombstoned(self) -> np.ndarray:
        return np.flatnonzero(self.present & ~self.live)

    def expunge_all_but(self, remaining: np.ndarray) -> int:
        """Apply a merge: every tombstoned, present ordinal not in
        ``remaining`` was expunged. Raises if ``remaining`` holds an
        ordinal this reference never tombstoned."""
        tomb = self.tombstoned()
        extra = np.setdiff1d(remaining, tomb)
        if len(extra):
            raise ValueError(f"index holds tombstones never issued: {extra[:5]}")
        gone = np.setdiff1d(tomb, remaining)
        self.present[gone] = False
        self._changed()
        return int(len(gone))

    def _changed(self) -> None:
        self._dict_cache = None

    # ---------------------------------------------------------- statistics
    @property
    def n_docs(self) -> int:
        return int(self.present.sum())

    @property
    def avgdl(self) -> float:
        n = self.n_docs
        return int(self.dl[self.present].sum()) / n if n else 0.0

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """Present postings (ord, tf) of a term across all segments."""
        tid = self.word_id.get(term)
        if tid is None:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        parts = [s.postings(tid) for s in self.segments]
        docs = np.concatenate([p[0] for p in parts])
        tfs = np.concatenate([p[1] for p in parts])
        keep = self.present[docs]
        return docs[keep], tfs[keep]

    def df(self, term: str) -> int:
        return len(self.postings(term)[0])

    # --------------------------------------------------------------- search
    def score_all(self, terms, mode: str = "or", role_boosts=None):
        """(ords, scores) of every live doc matching the query."""
        uniq = sorted(set(terms))
        got = [self.postings(t) for t in uniq]
        empty = np.zeros(0, np.int64), np.zeros(0, np.float64)
        if mode == "and" and any(len(g[0]) == 0 for g in got):
            return empty
        got = [g for g in got if len(g[0])]
        if not got:
            return empty
        n, avgdl = self.n_docs, self.avgdl
        idfs = [float(np.log1p((n - float(len(g[0])) + 0.5) / (float(len(g[0])) + 0.5)))
                for g in got]
        docs = np.concatenate([g[0] for g in got])
        tf = np.concatenate([g[1] for g in got]).astype(np.float64)
        dl = self.dl[docs].astype(np.float64)
        idf = np.repeat(np.asarray(idfs), [len(g[0]) for g in got])
        contrib = idf * (tf / (tf + K1 * (1.0 - B + B * dl / avgdl)))
        uniq_docs, inv = np.unique(docs, return_inverse=True)
        scores = np.bincount(inv, weights=contrib, minlength=len(uniq_docs))
        if mode == "and":
            keep = np.bincount(inv, minlength=len(uniq_docs)) == len(got)
            uniq_docs, scores = uniq_docs[keep], scores[keep]
        keep = self.live[uniq_docs]
        uniq_docs, scores = uniq_docs[keep], scores[keep]
        if role_boosts:
            w = np.ones(len(uniq_docs))
            roles = self.role[uniq_docs]
            for r, b in role_boosts.items():
                w[roles == r] = b
            scores = scores * w
        return uniq_docs, scores

    def top_k(self, terms, k: int = 10, mode: str = "or", role_boosts=None):
        docs, scores = self.score_all(terms, mode, role_boosts)
        order = np.lexsort((docs, -scores))[:k]
        return docs[order], scores[order], (docs, scores)

    # --------------------------------------------------------------- suggest
    def _dictionary(self):
        """(terms sorted, df aligned) of terms with present postings."""
        if self._dict_cache is None:
            df = np.zeros(len(self.words), np.int64)
            for s in self.segments:
                live_post = self.present[s.docs]
                df += np.bincount(s.posting_term[live_post], minlength=len(self.words))
            ids = np.flatnonzero(df)
            terms = np.array([self.words[i] for i in ids], dtype=object)
            order = np.argsort(terms.astype(str), kind="stable")
            terms, dfs = terms[order], df[ids][order]
            by_len: dict[int, tuple[np.ndarray, np.ndarray]] = {}
            lens = np.fromiter((len(t) for t in terms), np.int64, len(terms))
            for L in np.unique(lens):
                idx = np.flatnonzero(lens == L)
                mat = np.frombuffer(
                    "".join(terms[idx]).encode("utf-32-le"), np.uint32
                ).reshape(len(idx), int(L))
                by_len[int(L)] = (idx, mat)
            self._dict_cache = (terms, dfs, by_len)
        return self._dict_cache

    @staticmethod
    def _best(terms: np.ndarray, dfs: np.ndarray, idx: np.ndarray) -> list[str]:
        if len(idx) == 0:
            return []
        order = np.lexsort((idx, -dfs[idx]))[:MAX_EXPANSIONS]  # idx = term order
        return [str(t) for t in terms[idx[order]]]

    def expand_prefix(self, prefix: str) -> list[str]:
        terms, dfs, _ = self._dictionary()
        s = terms.astype(str)
        lo = np.searchsorted(s, prefix, side="left")
        hi = np.searchsorted(s, prefix + "\U0010FFFF", side="right")
        return self._best(terms, dfs, np.arange(lo, hi))

    def expand_fuzzy(self, term: str) -> list[str]:
        terms, dfs, by_len = self._dictionary()
        d = auto_fuzziness(term)
        if d == 0:
            return [term] if term in set(terms.tolist()) else []
        hits = []
        for L in range(max(1, len(term) - d), len(term) + d + 1):
            if L in by_len:
                idx, mat = by_len[L]
                hits.append(idx[within_edits(term, mat, d)])
        idx = np.sort(np.concatenate(hits)) if hits else np.zeros(0, np.int64)
        return self._best(terms, dfs, idx)

    def suggest_terms(self, query: str) -> list[str]:
        toks = query.lower().split()
        terms: list[str] = []
        for t in toks[:-1]:
            terms.extend(self.expand_fuzzy(t))
        terms.extend(self.expand_prefix(toks[-1]) or [toks[-1]])
        return list(dict.fromkeys(terms))


def compare(got_ids, got_scores, ref_ords, ref_scores, ref_all, doc_id_of) -> str | None:
    """None when the engine's top-k equals the reference's; else a reason.

    Doc ids must match position by position and scores within
    ``SCORE_RTOL``. The one allowance: where reference scores tie within
    that tolerance, the tied docs may come in either order (the check
    then requires every returned doc's reference score to equal the
    reference score at its rank)."""
    got_ids = list(got_ids)
    got_scores = np.asarray(got_scores, dtype=np.float64)
    if len(got_ids) != len(ref_ords):
        return f"returned {len(got_ids)} hits, reference has {len(ref_ords)}"
    if len(got_ids) == 0:
        return None
    tol = SCORE_RTOL * np.maximum(1.0, np.abs(ref_scores))
    if np.any(np.abs(got_scores - ref_scores) > tol):
        i = int(np.argmax(np.abs(got_scores - ref_scores) > tol))
        return f"rank {i}: score {got_scores[i]!r} != reference {ref_scores[i]!r}"
    want = [doc_id_of[o] for o in ref_ords]
    if got_ids == want:
        return None
    all_docs, all_scores = ref_all
    score_of = dict(zip((doc_id_of[o] for o in all_docs), all_scores))
    if len(set(got_ids)) != len(got_ids):
        return "duplicate doc ids in result"
    for i, d in enumerate(got_ids):
        s = score_of.get(d)
        if s is None or abs(s - ref_scores[i]) > tol[i]:
            return f"rank {i}: doc {d} is not a reference hit at that score"
    return None
