"""Multi-field search: one query scored across several field indexes with
per-field boosts — ES ``multi_match`` proper (the reference queries
``[abstract_phrases^10, ._2gram^5, ._3gram^2]`` in one request,
``IndexerServiceIT.java:219-238``; ``title``/``description`` are likewise
separate Lucene fields of one document).

Each field is its own index over the same corpus (same doc ordinals —
guaranteed by the deterministic ordinal assignment), possibly with a
different analyzer (e.g. ``text`` standard + ``suggest`` shingles). A
multi-field score is the sum over fields of the field's BM25 score times
its boost; per-field top-k is NOT enough (a doc can be mid-rank in every
field yet top overall), so each field contributes its full matching-doc
score vector and the merge happens before the heap.

``bool_prefix`` reproduces the reference's flagship suggest request
end-to-end: ``multi_match`` type ``bool_prefix`` with ``fuzziness: AUTO``
(IndexerServiceIT.java:219-238) — every token but the last fuzzy-expanded
against each field's own dictionary, the last token prefix-expanded, and
suggest-analyzed fields applying the 10/5/2 shingle-tier boosts (the
``abstract_phrases^10 / _2gram^5 / _3gram^2`` sub-field weights, tiered by
the width of the matched shingle)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from .. import bm25
from ..analysis import tokenize_py
from .dsl import _Driver, _Spark
from .engine import TIER_BOOSTS, IndexSearcher


class MultiFieldSearcher:
    def __init__(self, fields: list[tuple[IndexSearcher, float]]):
        """fields: (searcher, boost) pairs over the SAME corpus (identical
        doc ordinal space; verified on construction)."""
        if not fields:
            raise ValueError("need at least one field")
        n0 = fields[0][0].n_docs
        for s, _ in fields:
            if s.n_docs != n0:
                raise ValueError("field indexes cover different corpora")
        self.fields = fields

    # ------------------------------------------------------------- internals
    def _sum_fields(self, terms: list[str], k: int, mode: str = "or") -> pd.DataFrame:
        """Exact merge: every field contributes its FULL matching-doc
        score vector (field boost × BM25), summed per doc before the
        single global heap; tombstoned docs never enter the heap."""
        base = self.fields[0][0]
        tid = {t: i for i, t in enumerate(sorted(set(terms)))} or None
        doc_parts, contrib_parts, pair_parts = [], [], []
        for searcher, fboost in self.fields:
            plan, chunks = searcher._local_plan(terms)
            nm = searcher._load_norms()
            for v in plan.views(chunks):  # term-sorted — fixed float summation order
                if v.df == 0:
                    continue
                docs, tfs = v.decode_all()
                contrib = (
                    fboost
                    * v.idf
                    * bm25.tf_norm(tfs, nm["dl"][docs].astype(np.float64), searcher.avgdl)
                )
                doc_parts.append(docs)
                contrib_parts.append(contrib)
                if mode == "and" and tid is not None and v.term in tid:
                    pair_parts.append(docs * len(tid) + tid[v.term])
        if not doc_parts:
            return base._materialize(np.zeros(0, np.int64), np.zeros(0, np.float64))
        all_docs = np.concatenate(doc_parts)
        uniq, inv = np.unique(all_docs, return_inverse=True)
        scores = np.zeros(len(uniq), dtype=np.float64)
        np.add.at(scores, inv, np.concatenate(contrib_parts))
        if mode == "and" and tid is not None:
            # distinct (doc, term) pairs across fields; docs matching every term
            pairs = np.unique(np.concatenate(pair_parts)) if pair_parts else np.zeros(0, np.int64)
            cnt = np.bincount(
                np.searchsorted(uniq, pairs // len(tid)), minlength=len(uniq)
            )
            keep = cnt == len(tid)
            uniq, scores = uniq[keep], scores[keep]
        uniq, scores = _Driver.drop((uniq, scores), self._dead())
        top_docs, top_scores = bm25.topk_desc(scores, uniq, k)
        return base._materialize(top_docs, top_scores)

    def _dead(self) -> np.ndarray:
        """The union of the fields' tombstones: a doc deleted from any
        field index is deleted."""
        return np.unique(np.concatenate([s.tombstones for s, _ in self.fields]))

    def _bool_prefix(self, x, query: str, k: int, fuzzy: bool,
                     tier_boosts: tuple[float, float, float]) -> tuple[np.ndarray, np.ndarray]:
        """The ``bool_prefix`` top-k on DSL executor ``x`` (``_Driver`` or
        ``_Spark``): per field, the query kernel's full score vector over
        that field's expansions times the field boost, the fields summed
        per doc in field order, the union of the fields' tombstones
        dropped, then the top ``k``. One sequence for both executors, so
        their scores are bit-identical."""
        if not tokenize_py(query):
            return np.zeros(0, np.int64), np.zeros(0, np.float64)
        parts = []
        for searcher, fboost in self.fields:
            terms, tb = searcher._bool_prefix_terms(query, fuzzy, tier_boosts)
            parts.append(x.scale(x.scores(searcher, terms, term_boosts=tb), fboost))
        return x.top(x.drop(x.sum(parts), self._dead()), k)

    # ---------------------------------------------------------------- public
    def search(self, query, k: int = 10, mode: str = "or") -> pd.DataFrame:
        """Top-k over the boost-weighted sum of per-field BM25 scores.
        ``mode='and'`` requires every term to match in >=1 field (ES
        cross_fields-style operator=and)."""
        return self._sum_fields(self.fields[0][0].analyze_query(query), k, mode=mode)

    def bool_prefix(
        self,
        query: str,
        k: int = 10,
        *,
        fuzzy: bool = True,
        tier_boosts: tuple[float, float, float] = TIER_BOOSTS,
    ) -> pd.DataFrame:
        """The reference's exact suggest request
        (IndexerServiceIT.java:219-238): ``multi_match`` type
        ``bool_prefix``, ``fuzziness: AUTO`` — per field, all tokens but
        the last fuzzy-AUTO-expanded against THAT field's dictionary, the
        last token prefix-expanded (shingle fields expand to phrases), and
        suggest-analyzed fields weighted base^10/_2gram^5/_3gram^2 by the
        matched shingle's width. Exact global merge (full per-field score
        vectors, one heap), on the DSL's driver executor."""
        base = self.fields[0][0]
        return base._materialize(*self._bool_prefix(_Driver(base), query, k, fuzzy, tier_boosts))

    def suggest(self, query: str, k: int = 10, *, fuzzy: bool = True) -> pd.DataFrame:
        """SAYT across fields — alias for ``bool_prefix`` (kept for API
        continuity with ``IndexSearcher.suggest``)."""
        return self.bool_prefix(query, k, fuzzy=fuzzy)

    # ------------------------------------------------------ distributed path
    def bool_prefix_df(
        self,
        query: str,
        k: int = 10,
        *,
        fuzzy: bool = True,
        tier_boosts: tuple[float, float, float] = TIER_BOOSTS,
    ):
        """``bool_prefix`` with distributed scoring: the same sequence as
        ``bool_prefix`` on the DSL's Spark executor — every field emits
        its FULL per-segment score vector and the fields are summed per
        doc in DataFrame algebra — then the k winners are fetched with the
        stored-fields point read (``IndexSearcher._enrich_topk``). No
        O(corpus) driver state, any number of fields; scores bit-identical
        to ``bool_prefix``."""
        base = self.fields[0][0]
        docs, scores = self._bool_prefix(_Spark(base), query, k, fuzzy, tier_boosts)
        ords = docs.tolist()
        return base._enrich_topk(ords, dict(zip(ords, scores.tolist())))
