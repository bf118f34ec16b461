#!/usr/bin/env python
"""Generate the checked-in golden query set (FIXTURES.md §2): the fixed
sf_tiny corpus (200 convs x 10 turns, seed 42), a query set covering every
mode (single/multi-term or/and, phrase, prefix, boosts, synonyms), and the
exhaustive-oracle outputs as exact float64 hex — the STRICT-mode golden
the engine must stay rank-identical to across rounds.

The ``multifield`` section is the reference's nested ``bool_prefix``
query (IndexerServiceIT.java:219-238) over a std^10 + sayt^5 field pair,
computed without the index: per field, the query's terms are expanded
against that field's oracle vocabulary (fuzzy AUTO for all tokens but the
last, top 50 by df; the last token's prefix expansion, top 50 by df;
shingle tier boosts on the suggest field), the field's oracle BM25 vector
is scaled by the field boost, and the fields are summed in field order.

Run: ``python scripts/make_goldens.py`` (rewrites
tests/goldens/queryset.json)."""

from __future__ import annotations

import json
import os
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERYSET = [
    {"query_id": "q01", "terms": ["baco"], "mode": "or", "k": 10},
    {"query_id": "q02", "terms": ["the"], "mode": "or", "k": 10},
    {"query_id": "q03", "terms": ["baco", "cora"], "mode": "or", "k": 10},
    {"query_id": "q04", "terms": ["baco", "cora"], "mode": "and", "k": 10},
    {"query_id": "q05", "terms": ["quiel", "the", "42"], "mode": "or", "k": 100},
    {"query_id": "q06", "terms": ["café"], "mode": "or", "k": 10},
    {"query_id": "q07", "terms": ["baco"], "mode": "or", "k": 1},
    {"query_id": "q08", "terms": ["baco", "cora"], "mode": "or", "k": 10,
     "role_boosts": {"assistant": 2.0, "system": 0.5}},
    {"query_id": "q09", "terms": ["baco", "cora", "dala"], "mode": "and", "k": 10},
    {"query_id": "q10", "terms": ["lu", "me"], "mode": "or", "k": 10,
     "term_boosts": {"lu": 10.0, "me": 2.0}},
]


FIELD_BOOSTS = (10.0, 5.0)  # (index-analyzed field, suggest-analyzed field)
MULTIFIELD = [
    {"query_id": "mf01", "query": "baco co", "fuzzy": True, "k": 10},
    {"query_id": "mf02", "query": "quiel ra", "fuzzy": True, "k": 10},
    {"query_id": "mf03", "query": "the bac", "fuzzy": False, "k": 10},
    {"query_id": "mf04", "query": "cora dala su", "fuzzy": True, "k": 10},
    {"query_id": "mf05", "query": "bacu me", "fuzzy": True, "k": 10},
]
MAX_EXPANSIONS = 50
TIER_BOOSTS = (10.0, 5.0, 2.0)  # suggest sub-fields: base, _2gram, _3gram


def _edit_distance(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _top_df(orc, cands) -> list[str]:
    """The MAX_EXPANSIONS highest-df candidates, ties in term order."""
    return sorted(cands, key=lambda t: (-orc.df[t], t))[:MAX_EXPANSIONS]


def _bool_prefix_terms(orc, query: str, fuzzy: bool, suggest: bool):
    from es_indexer_spark.analysis import tokenize_py

    toks = tokenize_py(query)
    terms: list[str] = []
    for t in toks[:-1]:
        if fuzzy:
            # ES fuzziness AUTO: 0 edits below 3 chars, 1 up to 5, else 2
            d = 0 if len(t) < 3 else (1 if len(t) <= 5 else 2)
            terms += _top_df(orc, [c for c in orc.df if _edit_distance(t, c) <= d])
        else:
            terms.append(t)
    if toks:
        terms += _top_df(orc, [c for c in orc.df if c.startswith(toks[-1])]) or [toks[-1]]
    terms = list(dict.fromkeys(terms))
    boosts = {t: TIER_BOOSTS[min(t.count(" "), 2)] for t in terms} if suggest else None
    return terms, boosts


def _multifield_golden(oracles, q: dict) -> list[dict]:
    from es_indexer_spark import bm25

    base = oracles[0]
    total = np.zeros(base.n_docs, dtype=np.float64)
    hit = np.zeros(base.n_docs, dtype=bool)
    for i, (orc, fboost) in enumerate(zip(oracles, FIELD_BOOSTS)):
        terms, tb = _bool_prefix_terms(orc, q["query"], q["fuzzy"], suggest=i > 0)
        ords, scores = orc.score_all(terms, term_boosts=tb)
        idx = np.searchsorted(orc.doc_ords, ords)
        vec = np.zeros(orc.n_docs, dtype=np.float64)
        vec[idx] = scores
        total = total + vec * fboost
        hit[idx] = True
    ords, scores = bm25.topk_desc(total[hit], base.doc_ords[hit], q["k"])
    doc_ids = base.pdf["doc_id"].to_numpy()[np.searchsorted(base.doc_ords, ords)]
    return [{"doc_id": d, "score_hex": float(s).hex()} for d, s in zip(doc_ids, scores)]


def main() -> None:
    from es_indexer_spark import get_spark
    from es_indexer_spark.corpus import assign_doc_ordinals, synth_transcripts, with_doc_ids
    from es_indexer_spark.oracle import oracle_from_spark

    spark = get_spark(app_name="goldens", master="local[4]", shuffle_partitions=4)
    docs = assign_doc_ordinals(
        with_doc_ids(synth_transcripts(spark, n_convs=200, turns_per_conv=10, seed=42))
    )
    orc = oracle_from_spark(docs)
    out = {"corpus": {"n_convs": 200, "turns_per_conv": 10, "seed": 42},
           "queries": []}
    for q in QUERYSET:
        res = orc.topk(
            q["terms"], k=q["k"], mode=q["mode"],
            role_boosts=q.get("role_boosts"), term_boosts=q.get("term_boosts"),
        )
        out["queries"].append(
            {
                **q,
                "golden": [
                    # exact float64 as hex — zero-tolerance comparison
                    {"doc_id": d, "score_hex": float(s).hex()}
                    for d, s in zip(res["doc_id"], res["score"])
                ],
            }
        )
    oracles = [orc, oracle_from_spark(docs, analyzer="suggest")]
    out["multifield"] = {
        "field_boosts": list(FIELD_BOOSTS),
        "queries": [{**q, "golden": _multifield_golden(oracles, q)} for q in MULTIFIELD],
    }
    path = os.path.join(REPO, "tests", "goldens", "queryset.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}: {len(out['queries'])} golden queries")
    spark.stop()


if __name__ == "__main__":
    main()
