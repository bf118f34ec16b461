"""ES query-DSL adapter semantics (query/dsl.py): the reference's literal
JSON request shapes (GeoNetworkServiceImpl.java:118, :395-410, :585-603;
IndexerMetadataServiceImpl.java:122-127; IndexerServiceIT.java:219-238)
against both execution paths, plus Lucene bool semantics (filter never
scores, must_not excludes, minimum_should_match, boosts)."""

from __future__ import annotations

import numpy as np
import pytest

from es_indexer_spark.corpus import synth_transcripts
from es_indexer_spark.index.build import build_index
from es_indexer_spark.query.dsl import DslSearcher, EsDslError
from es_indexer_spark.query.engine import IndexSearcher
from es_indexer_spark.query.multifield import MultiFieldSearcher


@pytest.fixture(scope="module")
def dsl(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("dsl_idx"))
    df = synth_transcripts(spark, n_convs=100, turns_per_conv=6, seed=11)
    build_index(spark, df, idx_dir, n_buckets=8, n_segments=4, with_positions=True)
    s = IndexSearcher(spark, idx_dir)
    yield DslSearcher(s)
    s.close()


def _ids(pdf):
    return pdf["doc_id"].tolist()


# the first two words of the index's first doc: a phrase with hits
PHRASE = "ororco haor"


def _scan(dsl):
    """A searcher over the DSL's index that reads the term dictionary by
    the pruned term_stats scan (the source above ``driver_max_docs``)."""
    s = IndexSearcher(dsl.s.spark, dsl.s.index_dir)
    s.driver_max_docs = 0
    return s


# ---------------------------------------------------------------- leaves

def test_match_equals_engine_search(dsl):
    for mode in ("or", "and"):
        got = dsl.search({"match": {"text": {"query": "baco cora", "operator": mode}}}, k=10)
        want = dsl.s.search(["baco", "cora"], k=10, mode=mode)
        assert _ids(got) == _ids(want)
        np.testing.assert_allclose(got["score"], want["score"], rtol=0, atol=0)


def test_match_phrase_equals_engine(dsl):
    got = dsl.search({"match_phrase": {"text": PHRASE}}, k=10)
    want = dsl.s.phrase_search(PHRASE, k=10)
    assert len(want) and _ids(got) == _ids(want)
    np.testing.assert_allclose(got["score"], want["score"], rtol=0, atol=0)


def test_ids_term_terms_range_exists(dsl):
    nm = dsl.s._load_norms()
    some_id = nm["doc_id"][5]
    got = dsl.search({"ids": {"values": [some_id, "nope"]}}, k=10)
    assert _ids(got) == [some_id] and got["score"].tolist() == [1.0]

    got = dsl.search({"query": {"term": {"role": "assistant"}}, "size": 10_000})
    assert set(got["role"]) == {"assistant"}
    assert len(got) == int((nm["role"] == "assistant").sum())

    got = dsl.search({"query": {"terms": {"role": ["user", "system"]}}, "size": 10_000})
    assert set(got["role"]) <= {"user", "system"}

    got = dsl.search({"query": {"range": {"turn_idx": {"gte": 2, "lt": 4}}}, "size": 10_000})
    assert set(got["turn_idx"]) == {2, 3}

    n_all = dsl.count({"match_all": {}})
    assert dsl.count({"exists": {"field": "conv_id"}}) == n_all == dsl.s.n_docs


def test_prefix_and_fuzzy_score_the_expansion(dsl):
    exps = dsl.s.expand_prefix("bac")
    assert exps
    got = dsl.search({"prefix": {"text": "bac"}}, k=10)
    want = dsl.s.search(exps, k=10, mode="or")
    assert _ids(got) == _ids(want)

    exps = dsl.s.expand_fuzzy("bacp")  # 1 edit from "baco"
    assert "baco" in exps
    got = dsl.search({"fuzzy": {"text": {"value": "bacp"}}}, k=10)
    want = dsl.s.search(exps, k=10, mode="or")
    assert _ids(got) == _ids(want)


def test_multi_match_single_field_reduces_to_match(dsl):
    for t in ("most_fields", "best_fields"):
        got = dsl.search({"multi_match": {"query": "baco cora", "fields": ["text"], "type": t}}, k=10)
        want = dsl.s.search(["baco", "cora"], k=10)
        assert _ids(got) == _ids(want)
        np.testing.assert_allclose(got["score"], want["score"], rtol=0, atol=1e-12)


def test_multi_match_bool_prefix_matches_multifield_engine(dsl):
    got = dsl.search(
        {"multi_match": {"query": "baco cor", "fields": ["text"],
                         "type": "bool_prefix", "fuzziness": "AUTO"}}, k=10)
    want = MultiFieldSearcher([(dsl.s, 1.0)]).bool_prefix("baco cor", k=10)
    assert _ids(got) == _ids(want)
    np.testing.assert_allclose(got["score"], want["score"], rtol=0, atol=1e-9)


# ------------------------------------------------------------- bool logic

def test_bool_filter_restricts_without_scoring(dsl):
    plain = dsl.search({"match": {"text": "baco"}}, k=10_000)
    filtered = dsl.search(
        {"bool": {"must": [{"match": {"text": "baco"}}],
                  "filter": [{"term": {"role": "assistant"}}]}}, k=10_000)
    assert set(filtered["role"]) == {"assistant"}
    # filter clause must not change the surviving docs' scores
    merged = filtered.merge(plain, on="doc_ord", suffixes=("_f", "_p"))
    np.testing.assert_allclose(merged["score_f"], merged["score_p"], rtol=0, atol=0)
    assert len(filtered) == int((plain["role"] == "assistant").sum())


def test_bool_must_sums_and_intersects(dsl):
    a = dsl.search({"match": {"text": "baco"}}, k=10_000)
    b = dsl.search({"match": {"text": "cora"}}, k=10_000)
    both = dsl.search(
        {"bool": {"must": [{"match": {"text": "baco"}}, {"match": {"text": "cora"}}]}},
        k=10_000)
    inter = set(a["doc_ord"]) & set(b["doc_ord"])
    assert set(both["doc_ord"]) == inter
    sa = dict(zip(a["doc_ord"], a["score"]))
    sb = dict(zip(b["doc_ord"], b["score"]))
    for d, s in zip(both["doc_ord"], both["score"]):
        assert s == pytest.approx(sa[d] + sb[d], abs=1e-12)


def test_bool_should_adds_optional_score_and_must_not_excludes(dsl):
    base = dsl.search({"bool": {"must": [{"match": {"text": "baco"}}]}}, k=10_000)
    with_should = dsl.search(
        {"bool": {"must": [{"match": {"text": "baco"}}],
                  "should": [{"match": {"text": "cora"}}],
                  "must_not": [{"term": {"role": "system"}}]}}, k=10_000)
    assert "system" not in set(with_should["role"])
    assert set(with_should["doc_ord"]) == {
        d for d, r in zip(base["doc_ord"], base["role"]) if r != "system"}
    cora = dict(zip(*(lambda p: (p["doc_ord"], p["score"]))(
        dsl.search({"match": {"text": "cora"}}, k=10_000))))
    sbase = dict(zip(base["doc_ord"], base["score"]))
    for d, s in zip(with_should["doc_ord"], with_should["score"]):
        assert s == pytest.approx(sbase[d] + cora.get(d, 0.0), abs=1e-12)


def test_minimum_should_match(dsl):
    body = {"bool": {"should": [{"match": {"text": "baco"}},
                                {"match": {"text": "cora"}},
                                {"match": {"text": "dala"}}],
                     "minimum_should_match": 2}}
    got = dsl.search(body, k=10_000)
    sets = [set(dsl.search({"match": {"text": t}}, k=10_000)["doc_ord"])
            for t in ("baco", "cora", "dala")]
    want = {d for d in set().union(*sets) if sum(d in s for s in sets) >= 2}
    assert set(got["doc_ord"]) == want


def test_nested_unwraps_and_constant_score(dsl):
    got = dsl.search(
        {"nested": {"path": "search_suggestions",
                    "query": {"match": {"text": "baco"}}}}, k=10)
    want = dsl.search({"match": {"text": "baco"}}, k=10)
    assert _ids(got) == _ids(want)

    cs = dsl.search(
        {"constant_score": {"filter": {"term": {"role": "user"}}, "boost": 3.5}},
        k=10_000)
    assert set(cs["score"]) == {3.5} and set(cs["role"]) == {"user"}


def test_pure_filter_bool_scores_zero(dsl):
    got = dsl.search({"bool": {"filter": [{"term": {"role": "user"}}]}}, k=50)
    assert set(got["score"]) == {0.0}


def test_reference_sayt_shape_runs(dsl):
    """The reference's flagship request (IndexerServiceIT.java:219-238),
    verbatim structure: bool(filter match_all, must nested(bool should
    multi_match bool_prefix fuzziness AUTO))."""
    body = {
        "query": {
            "bool": {
                "filter": [{"match_all": {}}],
                "must": [{
                    "nested": {
                        "path": "search_suggestions",
                        "query": {"bool": {"should": [{
                            "multi_match": {
                                "query": "baco cor",
                                "fields": ["text^10"],
                                "type": "bool_prefix",
                                "fuzziness": "AUTO",
                            }}]}},
                    }}],
            }
        },
        "size": 10,
    }
    got = dsl.search(body)
    want = MultiFieldSearcher([(dsl.s, 10.0)]).bool_prefix("baco cor", k=10)
    assert _ids(got) == _ids(want)
    np.testing.assert_allclose(got["score"], want["score"], rtol=0, atol=1e-9)


# -------------------------------------------------- pagination / counting

def test_size_from_pagination(dsl):
    full = dsl.search({"match": {"text": "the"}}, k=10)
    page2 = dsl.search({"query": {"match": {"text": "the"}}, "size": 5, "from": 5})
    assert _ids(page2) == _ids(full)[5:]


def test_count_matches_search(dsl):
    n = dsl.count({"bool": {"must": [{"match": {"text": "baco"}}],
                            "filter": [{"term": {"role": "assistant"}}]}})
    hits = dsl.search({"bool": {"must": [{"match": {"text": "baco"}}],
                                "filter": [{"term": {"role": "assistant"}}]}}, k=10_000)
    assert n == len(hits)


# ------------------------------------------------------ distributed parity

COMPOSITE = {
    "query": {
        "bool": {
            "must": [{"match": {"text": "baco cora"}}],
            "should": [{"match": {"text": "dala"}},
                       {"match_phrase": {"text": "baco cora"}}],
            "filter": [{"range": {"turn_idx": {"gte": 1}}}],
            "must_not": [{"term": {"role": "system"}}],
        }
    },
    "size": 15,
}


def test_distributed_parity_on_composite_bool(dsl):
    got_driver = dsl.search(COMPOSITE)
    got_dist = dsl.search_df(COMPOSITE).toPandas()
    assert _ids(got_dist) == _ids(got_driver)
    np.testing.assert_allclose(
        got_dist["score"], got_driver["score"], rtol=0, atol=1e-9)


def test_distributed_parity_on_leaves(dsl):
    for body in (
        {"match": {"text": "baco"}},
        {"match": {"text": {"query": "baco cora", "operator": "and"}}},
        {"match_phrase": {"text": PHRASE}},
        {"terms": {"role": ["user", "assistant"]}},
        {"prefix": {"text": "bac"}},
        {"fuzzy": {"text": {"value": "bacp", "boost": 3.0}}},
        {"wildcard": {"text": "ba*"}},
        {"multi_match": {"query": "baco cor", "fields": ["text"],
                         "type": "bool_prefix", "fuzziness": "AUTO"}},
    ):
        got_driver = dsl.search(body, k=10)
        got_dist = dsl.search_df(body, k=10).toPandas()
        assert len(got_driver) and _ids(got_dist) == _ids(got_driver), body
        np.testing.assert_allclose(
            got_dist["score"], got_driver["score"], rtol=0, atol=1e-9)
    # a wildcard leaf's short form {field: pattern} is {field: {"value": pattern}}
    short = dsl.search({"wildcard": {"text": "ba*"}}, k=10)
    assert len(short) and _ids(short) == _ids(
        dsl.search({"wildcard": {"text": {"value": "ba*"}}}, k=10))


_FIELDS3 = ["text^2", "a", "b^3"]

# every supported query type, each with a boost where ES takes one
PARITY = {
    "match_all": {"match_all": {"boost": 1.5}},
    "ids": {"ids": {"values": ["conv00000005:2", "conv00000042:0", "nope"], "boost": 2.0}},
    "term_meta": {"term": {"role": {"value": "assistant", "boost": 2.0}}},
    "term_text": {"term": {"text": {"value": "baco", "boost": 3.0}}},
    "terms_meta": {"terms": {"role": ["user", "system"], "boost": 2.0}},
    "terms_text": {"terms": {"text": ["baco", "cora"], "boost": 1.5}},
    "range": {"range": {"turn_idx": {"gte": 1, "lt": 4, "boost": 2.0}}},
    "range_ts": {"range": {"ts": {"gte": "2023-11-17T00:13:20", "boost": 2.0}}},
    "range_nullable": {"range": {"tool": {"gte": "c", "boost": 2.0}}},
    "term_ts": {"term": {"ts": {"value": "2023-11-17T00:13:20", "boost": 2.0}}},
    "numbers_as_strings": {"bool": {"must": [{"terms": {"turn_idx": ["1", "3"]}}],
                                    "filter": [{"range": {"turn_idx": {"lt": "3"}}}]}},
    "exists": {"exists": {"field": "tool", "boost": 2.0}},
    "match_or": {"match": {"text": {"query": "baco cora", "boost": 2.0}}},
    "match_and": {"match": {"text": {"query": "baco cora", "operator": "and",
                                     "boost": 2.0}}},
    "match_phrase": {"match_phrase": {"text": {"query": PHRASE, "boost": 3.0}}},
    "phrase_prefix_1": {"match_phrase_prefix": {"text": {"query": "ba", "boost": 3.0}}},
    "phrase_prefix_2": {"match_phrase_prefix": {"text": {"query": "ororco ha",
                                                         "boost": 3.0}}},
    "prefix": {"prefix": {"text": {"value": "bac", "boost": 2.0}}},
    "fuzzy": {"fuzzy": {"text": {"value": "bacp", "boost": 2.0}}},
    "wildcard_text": {"wildcard": {"text": {"value": "ba*o", "boost": 2.0}}},
    "regexp_text": {"regexp": {"text": {"value": "co[a-z]*", "boost": 2.0}}},
    "wildcard_meta": {"wildcard": {"role": {"value": "ass*", "boost": 2.0}}},
    "regexp_meta": {"regexp": {"conv_id": {"value": "conv000000[1-3][0-9]", "boost": 2.0}}},
    "best_fields": {"multi_match": {"query": "baco cora", "fields": _FIELDS3,
                                    "tie_breaker": 0.3, "boost": 1.5}},
    "most_fields": {"multi_match": {"query": "baco cora dala", "fields": _FIELDS3,
                                    "type": "most_fields", "boost": 1.5}},
    "bool_prefix": {"multi_match": {"query": "baco cor", "fields": _FIELDS3,
                                    "type": "bool_prefix", "fuzziness": "AUTO",
                                    "boost": 1.5}},
    "dis_max": {"dis_max": {"queries": [{"match": {"text": "baco"}},
                                        {"match": {"text": "cora"}},
                                        {"term": {"role": "user"}}],
                            "tie_breaker": 0.3, "boost": 2.0}},
    "boosting": {"boosting": {"positive": {"match": {"text": "baco cora"}},
                              "negative": {"term": {"role": "system"}},
                              "negative_boost": 0.25, "boost": 2.0}},
    "constant_score": {"constant_score": {"filter": {"match": {"text": "baco"}},
                                          "boost": 3.5}},
    "nested": {"nested": {"path": "p", "query": {"match": {"text": "baco cora"}},
                          "boost": 2.0}},
    "bool_should": {"bool": {"should": [
        {"match_phrase": {"text": {"query": PHRASE, "boost": 3.0}}},
        {"match": {"text": "cora"}}, {"match": {"text": "dala"}}]}},
    "bool": {"bool": {
        "must": [{"match": {"text": "baco"}}, {"prefix": {"text": "co"}}],
        "should": [{"match": {"text": "cora"}},
                   {"match_phrase": {"text": {"query": PHRASE, "boost": 3.0}}},
                   {"match": {"text": "dala"}},
                   {"fuzzy": {"text": "bacp"}}],
        "minimum_should_match": 1,
        "filter": [{"range": {"turn_idx": {"gte": 1}}}],
        "must_not": [{"term": {"role": "system"}}],
        "boost": 1.5}},
}


@pytest.fixture(scope="module")
def dsl3(dsl):
    """The fixture searcher under three text field names, and a
    ``DslSearcher`` over the same index that runs every request on the
    distributed executor (``driver_max_docs`` 0)."""
    scan = _scan(dsl)
    yield (DslSearcher(dsl.s, text_fields={"a": dsl.s, "b": dsl.s}),
           DslSearcher(scan, text_fields={"a": scan, "b": scan}))
    scan.close()


@pytest.mark.parametrize("name", list(PARITY))
def test_executors_score_bit_identically(dsl3, name):
    """``search`` (driver executor) and ``search_df`` (Spark executor)
    return the same doc ids with bit-identical scores, scored and in
    filter context, and the distributed count equals the driver count."""
    d, dist = dsl3
    q = PARITY[name]
    for body in (q, {"bool": {"filter": [q]}}):
        got_driver = d.search({"query": body, "size": 1000})
        got_dist = d.search_df({"query": body, "size": 1000}).toPandas()
        assert len(got_driver), body
        assert _ids(got_dist) == _ids(got_driver), body
        np.testing.assert_array_equal(got_dist["score"], got_driver["score"])
        assert dist.count(body) == d.count(body) == len(got_driver)


# ------------------------------------------------------------------ errors

def test_unsupported_and_malformed(dsl):
    with pytest.raises(EsDslError):
        dsl.search({"more_like_this": {"fields": ["text"]}})
    with pytest.raises(EsDslError):
        dsl.search({"match": {"text": "a", "other": "b"}})
    with pytest.raises(EsDslError):
        dsl.search({"term": {"no_such_field": "x"}})
    with pytest.raises(EsDslError):
        dsl.search({"bool": {"should": [{"match_all": {}}],
                             "minimum_should_match": "75%"}})
    # a missing required key, or a stored field that is not a metadata
    # field, names the leaf on both executors
    for body in (
        {"exists": {}},
        {"boosting": {"positive": {"match_all": {}}}},
        {"constant_score": {}},
        {"nested": {}},
        {"term": {"text": {"boost": 2}}},
        {"match": {"text": {"boost": 2}}},
        {"range": {"dl": {"gte": 1}}},
        {"exists": {"field": "text"}},
    ):
        for run in (dsl.search, dsl.search_df):
            with pytest.raises(EsDslError):
                run(body)


# ------------------------------------------------- sort / search_after (Q4)

def _live_meta(dsl):
    import pandas as pd
    nm = dsl.s._load_norms()
    pdf = pd.DataFrame({
        "doc_ord": np.arange(dsl.s.n_docs, dtype=np.int64),
        "doc_id": nm["doc_id"], "conv_id": nm["conv_id"],
        "turn_idx": nm["turn_idx"], "role": nm["role"],
    })
    if len(dsl.s.tombstones):
        pdf = pdf[~pdf["doc_ord"].isin(dsl.s.tombstones)]
    return pdf


def test_sort_matches_engine_scan_after(dsl):
    cursor = ("conv0050", 3)
    want = dsl.s.scan_after(cursor=cursor, page_size=40).toPandas()
    got = dsl.search({
        "query": {"match_all": {}},
        "sort": [{"conv_id": "asc"}, {"turn_idx": "asc"}],
        "search_after": list(cursor),
        "size": 40,
    })
    assert got["conv_id"].tolist() == want["conv_id"].tolist()
    assert got["turn_idx"].tolist() == want["turn_idx"].tolist()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()


def test_sort_pager_covers_corpus_without_dupes(dsl):
    """Chained search_after pages reconstruct the whole corpus exactly
    (the reference's bulk-scan loop, GeoNetworkServiceImpl.java:436-535)."""
    pages, cursor, seen = [], None, 0
    while True:
        body = {"sort": [{"conv_id": "asc"}, {"turn_idx": "asc"}], "size": 113}
        if cursor is not None:
            body["search_after"] = cursor
        page = dsl.search(body)
        if not len(page):
            break
        pages.append(page)
        seen += len(page)
        cursor = [page.iloc[-1]["conv_id"], int(page.iloc[-1]["turn_idx"])]
        assert seen <= dsl.s.n_docs, "pager loops"
    import pandas as pd
    got = pd.concat(pages, ignore_index=True)
    want = _live_meta(dsl).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(got) == len(want)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert got["doc_id"].is_unique


def test_sort_by_score_equals_topk(dsl):
    want = dsl.search({"match": {"text": "baco cora"}}, k=10)
    got = dsl.search({
        "query": {"match": {"text": "baco cora"}},
        "sort": [{"_score": "desc"}],
        "size": 10,
    })
    assert got["doc_ord"].tolist() == want["doc_ord"].tolist()
    np.testing.assert_allclose(got["score"], want["score"], rtol=0, atol=1e-9)


def test_sorted_query_with_mixed_directions(dsl):
    got = dsl.search({
        "query": {"term": {"role": "user"}},
        "sort": [{"turn_idx": "desc"}, {"conv_id": "asc"}],
        "size": 25,
    })
    want = (
        _live_meta(dsl).query("role == 'user'")
        .sort_values(["turn_idx", "conv_id", "doc_ord"],
                     ascending=[False, True, True])
        .head(25)
    )
    assert got["doc_id"].tolist() == want["doc_id"].tolist()


def test_sort_source_projection_and_errors(dsl):
    got = dsl.search({
        "sort": [{"conv_id": "asc"}], "size": 5, "_source": ["doc_id"]})
    assert list(got.columns) == ["doc_id", "conv_id"]

    with pytest.raises(EsDslError, match="search_after"):
        dsl.search({"sort": [{"conv_id": "asc"}], "search_after": ["a", 1],
                    "size": 5})
    with pytest.raises(EsDslError, match="unsortable"):
        dsl.search({"sort": [{"text": "asc"}], "size": 5})
    with pytest.raises(EsDslError, match="asc\\|desc"):
        dsl.search({"sort": [{"conv_id": "ascending"}], "size": 5})


# ------------------------------------------------------- WAND fast path

def _slow_search(dsl, q, k):
    """Force the full bool-algebra evaluator (what composed trees use)."""
    import es_indexer_spark.bm25 as bm25
    docs, sc = dsl._eval(q, True, dsl._driver)
    top_docs, top_sc = bm25.topk_desc(sc, docs, k)
    return dsl.s._materialize(top_docs, top_sc)


@pytest.mark.parametrize("q", [
    {"match": {"text": "baco cora"}},
    {"match": {"text": {"query": "baco cora", "operator": "and"}}},
    {"match": {"text": {"query": "baco", "boost": 2.5}}},
    {"match_phrase": {"text": PHRASE}},
    {"bool": {"must": [{"match": {"text": "baco cora"}}]}},
    {"nested": {"path": "p", "query": {"match": {"text": "baco cora"}}}},
])
def test_fastpath_identical_to_bool_evaluator(dsl, q):
    assert dsl._fastpath_spec(q) is not None
    got = dsl.search({"query": q, "size": 10})
    want = _slow_search(dsl, q, 10)
    assert len(got)
    assert got["doc_ord"].tolist() == want["doc_ord"].tolist()
    np.testing.assert_allclose(got["score"], want["score"], rtol=0, atol=1e-12)


@pytest.mark.parametrize("q", [
    {"bool": {"must": [{"match": {"text": "baco"}}],
              "filter": [{"term": {"role": "user"}}]}},
    {"bool": {"must": [{"match": {"text": "baco"}},
                       {"match": {"text": "cora"}}]}},
    {"bool": {"must": [{"match": {"text": "baco"}}], "boost": 2.0}},
    {"term": {"role": "user"}},
    {"match": {"text": ""}},
    {"multi_match": {"query": "baco", "fields": ["text"]}},
])
def test_fastpath_declines_composed_trees(dsl, q):
    assert dsl._fastpath_spec(q) is None


def test_fastpath_distributed_parity(dsl):
    body = {"query": {"match": {"text": "baco cora"}}, "size": 10}
    got = dsl.search_df(body).toPandas()
    want = dsl.search(body)
    assert got["doc_ord"].tolist() == want["doc_ord"].tolist()
    np.testing.assert_allclose(got["score"], want["score"], rtol=0, atol=1e-9)


# ------------------------------------------------------- aggregations

def test_terms_agg_with_query_filter(dsl):
    res = dsl.aggregate({
        "query": {"match": {"text": "baco"}},
        "aggs": {"roles": {"terms": {"field": "role", "size": 10}}},
    })
    hits = dsl.search({"match": {"text": "baco"}}, k=10_000)
    assert res["hits"]["total"]["value"] == len(hits)
    want = hits["role"].value_counts()
    got = {b["key"]: b["doc_count"] for b in res["aggregations"]["roles"]["buckets"]}
    assert got == want.to_dict()
    # ES ordering: doc_count desc, key asc; exact impl => error bound 0
    counts = [b["doc_count"] for b in res["aggregations"]["roles"]["buckets"]]
    assert counts == sorted(counts, reverse=True)
    assert res["aggregations"]["roles"]["doc_count_error_upper_bound"] == 0
    assert res["aggregations"]["roles"]["sum_other_doc_count"] == 0


def test_terms_size_cap_and_other_count(dsl):
    res = dsl.aggregate({"aggs": {"r": {"terms": {"field": "role", "size": 1}}}})
    r = res["aggregations"]["r"]
    assert len(r["buckets"]) == 1
    assert r["sum_other_doc_count"] == dsl.s.n_docs - r["buckets"][0]["doc_count"]


def test_metric_and_stats_aggs(dsl):
    meta = _live_meta(dsl)
    res = dsl.aggregate({"aggs": {
        "mx": {"max": {"field": "turn_idx"}},
        "av": {"avg": {"field": "turn_idx"}},
        "nconv": {"cardinality": {"field": "conv_id"}},
        "st": {"stats": {"field": "turn_idx"}},
    }})
    a = res["aggregations"]
    assert a["mx"]["value"] == meta["turn_idx"].max()
    assert a["av"]["value"] == pytest.approx(meta["turn_idx"].mean())
    assert a["nconv"]["value"] == meta["conv_id"].nunique()
    assert a["st"]["count"] == len(meta)
    assert a["st"]["sum"] == meta["turn_idx"].sum()


def test_histogram_and_nested_metric(dsl):
    res = dsl.aggregate({"aggs": {
        "t2": {"histogram": {"field": "turn_idx", "interval": 2},
               "aggs": {"n_roles": {"cardinality": {"field": "role"}},
                        "dl_stats": {"stats": {"field": "dl"}}}},
    }})
    meta = _live_meta(dsl)
    buckets = res["aggregations"]["t2"]["buckets"]
    assert [b["key"] for b in buckets] == [0, 2, 4]
    grp = meta.groupby(meta["turn_idx"] // 2 * 2)
    for b in buckets:
        assert b["doc_count"] == len(grp.get_group(b["key"]))
        assert b["n_roles"]["value"] == grp.get_group(b["key"])["role"].nunique()
        assert b["dl_stats"]["count"] == b["doc_count"]


def test_date_histogram_and_filter_agg(dsl):
    res = dsl.aggregate({"aggs": {
        "per_day": {"date_histogram": {"field": "ts", "calendar_interval": "day"}},
        "users": {"filter": {"term": {"role": "user"}},
                  "aggs": {"n": {"value_count": {"field": "doc_ord"}}}},
    }})
    a = res["aggregations"]
    assert sum(b["doc_count"] for b in a["per_day"]["buckets"]) == dsl.s.n_docs
    n_user = int((_live_meta(dsl)["role"] == "user").sum())
    assert a["users"]["doc_count"] == n_user == a["users"]["n"]["value"]


def test_nested_bucket_in_bucket(dsl):
    res = dsl.aggregate({"aggs": {
        "roles": {"terms": {"field": "role", "size": 2},
                  "aggs": {"turns": {"terms": {"field": "turn_idx", "size": 3}}}},
    }})
    meta = _live_meta(dsl)
    for rb in res["aggregations"]["roles"]["buckets"]:
        sub = meta[meta["role"] == rb["key"]]
        want = sub["turn_idx"].value_counts()
        for tb in rb["turns"]["buckets"]:
            assert tb["doc_count"] == want[tb["key"]]


def test_histogram_max_buckets_guard(dsl):
    # ES search.max_buckets parity: an unboundedly fine histogram raises
    # instead of collecting unbounded rows onto the driver
    old = DslSearcher.MAX_BUCKETS
    dsl.MAX_BUCKETS = 3
    try:
        with pytest.raises(EsDslError, match="max_buckets"):
            dsl.aggregate({"aggs": {
                "x": {"histogram": {"field": "doc_ord", "interval": 1}}}})
    finally:
        dsl.MAX_BUCKETS = old
    assert DslSearcher.MAX_BUCKETS == 65536  # ES default untouched


def test_nested_subagg_groups_only_the_collected_parents(dsl):
    # a terms parent with size 2 over 100 conversations keeps 2 buckets:
    # their children alone count toward max_buckets, not every parent's
    meta = _live_meta(dsl)
    assert meta.groupby(["conv_id", "role"]).ngroups > 10
    old = DslSearcher.MAX_BUCKETS
    dsl.MAX_BUCKETS = 10
    try:
        res = dsl.aggregate({"aggs": {
            "convs": {"terms": {"field": "conv_id", "size": 2},
                      "aggs": {"roles": {"terms": {"field": "role"}}}},
        }})
    finally:
        dsl.MAX_BUCKETS = old
    parents = res["aggregations"]["convs"]["buckets"]
    assert len(parents) == 2
    for pb in parents:
        want = meta[meta["conv_id"] == pb["key"]]["role"].value_counts()
        got = {rb["key"]: rb["doc_count"] for rb in pb["roles"]["buckets"]}
        assert got == want.to_dict()


def test_nested_bucket_subagg_is_one_grouped_job(dsl):
    # metric-under-bucket and bucket-under-bucket sub-aggs must run as ONE
    # groupBy(parent, child) job, never one filtered Spark job per parent
    # bucket (round-5 verdict perf-weak #1)
    sc = dsl.s.spark.sparkContext

    def run(size: int) -> tuple[dict, int]:
        gid = f"agg_job_guard_{size}"
        sc.setJobGroup(gid, "nested agg job-count guard")
        try:
            res = dsl.aggregate({"aggs": {
                "turns": {"terms": {"field": "turn_idx", "size": size},
                          "aggs": {"roles": {"terms": {"field": "role",
                                                       "size": 5},
                                             "aggs": {"mx": {"max": {
                                                 "field": "dl"}}}}}},
            }})
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return res, len(sc.statusTracker().getJobIdsForGroup(gid))

    res2, jobs2 = run(2)
    res, jobs10 = run(10)
    parents = res["aggregations"]["turns"]["buckets"]
    assert len(parents) == 6  # 6 turn_idx values in the fixture
    assert len(res2["aggregations"]["turns"]["buckets"]) == 2
    # the job count must NOT scale with the parent bucket count (the old
    # shape ran >=2 filtered jobs per parent; AQE job-splitting makes an
    # absolute bound fragile, so guard the slope instead)
    assert jobs10 <= jobs2 + 1, (jobs2, jobs10)
    # and the grouped results match a per-parent recomputation
    meta = _live_meta(dsl)
    dl_by_ord = dsl.s._load_norms()["dl"]
    meta = meta.assign(dl=dl_by_ord[meta["doc_ord"].to_numpy()])
    for pb in parents:
        sub = meta[meta["turn_idx"] == pb["key"]]
        want = sub["role"].value_counts()
        for rb in pb["roles"]["buckets"]:
            assert rb["doc_count"] == want[rb["key"]]
            assert rb["mx"]["value"] == sub[sub["role"] == rb["key"]]["dl"].max()


def test_terms_sum_other_excludes_null_field_docs(dsl):
    # docs whose bucket field is null are absent from terms aggs in ES —
    # sum_other must not count them (tool is null off tool turns)
    res = dsl.aggregate({"aggs": {
        "tools": {"terms": {"field": "tool", "size": 1}}}})
    r = res["aggregations"]["tools"]
    tools = dsl.s._load_norms()["tool"]
    n_nonnull = int(sum(t is not None for t in tools))
    assert n_nonnull < dsl.s.n_docs  # fixture has null-tool docs
    assert r["sum_other_doc_count"] == n_nonnull - r["buckets"][0]["doc_count"]


def test_leaf_option_keys_do_not_shadow_field(dsl):
    # an ES-legal "boost" key in terms/range bodies must not be picked as
    # the field name regardless of dict order
    got = dsl.search({"terms": {"boost": 2.0, "role": ["user"]}}, k=5)
    want = dsl.search({"terms": {"role": ["user"]}}, k=5)
    assert _ids(got) == _ids(want)
    got = dsl.search({"range": {"boost": 2.0, "turn_idx": {"gte": 3}}}, k=5)
    want = dsl.search({"range": {"turn_idx": {"gte": 3}}}, k=5)
    assert _ids(got) == _ids(want)
    with pytest.raises(EsDslError, match="exactly one field"):
        dsl.search({"terms": {"role": ["user"], "tool": ["bash"]}}, k=5)


def test_match_all_boost_both_paths(dsl):
    body = {"match_all": {"boost": 2.5}}
    drv = dsl.search(body, k=5)
    dist = dsl.search_df(body, k=5).toPandas()
    assert (drv["score"] == 2.5).all()
    assert (dist["score"] == 2.5).all()
    assert _ids(dist) == _ids(drv)


def test_agg_errors(dsl):
    with pytest.raises(EsDslError, match="not aggregatable"):
        dsl.aggregate({"aggs": {"x": {"terms": {"field": "nope"}}}})
    with pytest.raises(EsDslError, match="exactly one type"):
        dsl.aggregate({"aggs": {"x": {"terms": {"field": "role"},
                                      "max": {"field": "turn_idx"}}}})
    with pytest.raises(EsDslError, match="cannot have sub-aggs"):
        dsl.aggregate({"aggs": {"x": {"max": {"field": "turn_idx"},
                                      "aggs": {"y": {"max": {"field": "turn_idx"}}}}}})
    with pytest.raises(EsDslError, match="interval"):
        dsl.aggregate({"aggs": {"x": {"date_histogram": {"field": "ts",
                                                         "calendar_interval": "fortnight"}}}})


# ------------------------------------------------------ wildcard / regexp

def test_wildcard_expansion_matches_dictionary(dsl):
    td = dsl.s.term_dictionary()
    # pick a real term and wildcard its middle out
    term = td.nlargest(5, "df")["term"].iloc[-1]
    pattern = term[0] + "*" + term[-1]
    import re
    want = sorted(
        t for t in td["term"]
        if re.fullmatch(re.escape(term[0]) + ".*" + re.escape(term[-1]), t)
    )
    assert sorted(dsl.s.expand_wildcard(pattern, max_expansions=10_000)) == want
    assert sorted(_scan(dsl).expand_wildcard(pattern, max_expansions=10_000)) == want


def test_wildcard_query_scores_like_expanded_or(dsl):
    td = dsl.s.term_dictionary()
    term = td.nlargest(3, "df")["term"].iloc[-1]
    pattern = term[:2] + "*"
    exps = dsl.s.expand_wildcard(pattern)
    assert term in exps
    got = dsl.search({"wildcard": {"text": {"value": pattern}}}, k=20)
    want = dsl.s.search(exps, k=20)
    assert _ids(got) == _ids(want)
    np.testing.assert_allclose(got["score"], want["score"], rtol=0, atol=0)
    # distributed parity: same top-k membership and scores
    import pyspark.sql.functions as F
    got_df = (dsl.search_df({"wildcard": {"text": {"value": pattern}}}, k=20)
              .orderBy(F.desc("score"), F.asc("doc_ord")).toPandas())
    drv = got.sort_values(["score", "doc_ord"], ascending=[False, True])
    np.testing.assert_allclose(
        got_df["score"].to_numpy(), drv["score"].to_numpy(), rtol=0, atol=1e-9)


def test_invalid_pattern_fails_alike_on_both_paths(dsl):
    """A pattern Python ``re`` cannot compile is an EsDslError naming it on
    the driver and the distributed path, on the text field and on a
    metadata field (where the distributed path filters with ``rlike``),
    and a ValueError naming it from the expansion itself."""
    for field in ("text", "role"):
        body = {"regexp": {field: {"value": "(ba"}}}
        for run in (dsl.search, dsl.search_df):
            with pytest.raises(EsDslError, match=r"invalid pattern '\(ba'"):
                run(body, k=5)
    for s in (dsl.s, _scan(dsl)):
        with pytest.raises(ValueError, match=r"invalid pattern '\(ba'"):
            s.expand_regexp("(ba")


def test_regexp_query_and_meta_wildcard(dsl):
    td = dsl.s.term_dictionary()
    term = td.nlargest(4, "df")["term"].iloc[-1]
    pattern = term[:1] + "[a-z]*"
    exps = dsl.s.expand_regexp(pattern)  # default cap, same as the leaf
    assert term in exps
    assert sorted(exps) == sorted(_scan(dsl).expand_regexp(pattern))
    got = dsl.search({"regexp": {"text": {"value": pattern}}}, k=15)
    want = dsl.s.search(exps, k=15)
    assert _ids(got) == _ids(want)

    # wildcard on a METADATA field: constant-score predicate
    got = dsl.search({"query": {"wildcard": {"role": {"value": "ass*ant"}}},
                      "size": 10_000})
    nm = dsl.s._load_norms()
    assert len(got) == int((nm["role"] == "assistant").sum())
    assert set(got["score"]) == {1.0}
    # distributed meta path agrees
    n_df = dsl.search_df({"wildcard": {"role": {"value": "ass*ant"}}}, k=10_000).count()
    assert n_df == len(got)


def test_wildcard_boost_and_filter_context(dsl):
    td = dsl.s.term_dictionary()
    term = td.nlargest(3, "df")["term"].iloc[-1]
    pattern = term[:2] + "*"
    plain = dsl.search({"wildcard": {"text": {"value": pattern}}}, k=10)
    boosted = dsl.search({"wildcard": {"text": {"value": pattern, "boost": 3.0}}}, k=10)
    np.testing.assert_allclose(boosted["score"], plain["score"] * 3.0, rtol=0, atol=1e-12)
    # in filter context it contributes no score
    f = dsl.search({"bool": {"must": [{"match_all": {}}],
                             "filter": [{"wildcard": {"text": {"value": pattern}}}]}},
                   k=10_000)
    assert set(f["score"]) == {1.0}
    assert set(f["doc_id"]) <= set(
        dsl.search({"wildcard": {"text": {"value": pattern}}}, k=10_000)["doc_id"])


def test_match_phrase_prefix(dsl):
    # take a real adjacent word pair from the corpus
    row = dsl.s.doc_stats_df().select("text").first()
    words = [w for w in row["text"].lower().split() if w.isalpha()]
    w1, w2 = words[0], words[1]
    body = {"match_phrase_prefix": {"text": {"query": f"{w1} {w2[:2]}"}}}
    got = dsl.search({"query": body, "size": 10_000})
    # exact membership: union of phrase hits over every expansion of w2[:2]
    want = set()
    for e in dsl.s.expand_prefix(w2[:2]):
        want |= set(dsl.s.phrase_search(f"{w1} {e}", k=100_000)["doc_id"])
    assert set(got["doc_id"]) == want and len(want) > 0
    # distributed parity (membership)
    import pyspark.sql.functions as F
    df = dsl.search_df(body, k=100_000).toPandas()
    nm = dsl.s._load_norms()
    assert set(nm["doc_id"][df["doc_ord"].to_numpy()]) == want
    # single-position query degrades to a prefix OR-group
    one = dsl.search({"query": {"match_phrase_prefix": {"text": {"query": w2[:2]}}},
                      "size": 10_000})
    pref = dsl.search({"query": {"prefix": {"text": {"value": w2[:2]}}},
                       "size": 10_000})
    assert set(one["doc_id"]) == set(pref["doc_id"])


def test_dis_max_and_boosting(dsl):
    a = dsl.search({"match": {"text": "baco"}}, k=10_000)
    b = dsl.search({"match": {"text": "cora"}}, k=10_000)
    sa = dict(zip(a["doc_ord"], a["score"]))
    sb = dict(zip(b["doc_ord"], b["score"]))
    got = dsl.search({"query": {"dis_max": {
        "queries": [{"match": {"text": "baco"}}, {"match": {"text": "cora"}}],
        "tie_breaker": 0.3}}, "size": 10_000})
    assert set(got["doc_ord"]) == set(sa) | set(sb)
    for d, s in zip(got["doc_ord"], got["score"]):
        x, y = sa.get(d, 0.0), sb.get(d, 0.0)
        assert s == pytest.approx(max(x, y) + 0.3 * (min(x, y)), abs=1e-12)

    boo = dsl.search({"query": {"boosting": {
        "positive": {"match": {"text": "baco"}},
        "negative": {"term": {"role": "system"}},
        "negative_boost": 0.25}}, "size": 10_000})
    assert set(boo["doc_ord"]) == set(sa)
    for d, s, r in zip(boo["doc_ord"], boo["score"], boo["role"]):
        want = sa[d] * (0.25 if r == "system" else 1.0)
        assert s == pytest.approx(want, abs=1e-12)

    # distributed parity on scores
    import pyspark.sql.functions as F
    for body in (
        {"dis_max": {"queries": [{"match": {"text": "baco"}},
                                 {"match": {"text": "cora"}}], "tie_breaker": 0.3}},
        {"boosting": {"positive": {"match": {"text": "baco"}},
                      "negative": {"term": {"role": "system"}},
                      "negative_boost": 0.25}},
    ):
        drv = dsl._eval(body, True, dsl._driver)
        dist = dsl._eval(body, True, dsl._spark).orderBy("doc_ord").toPandas()
        np.testing.assert_array_equal(dist["doc_ord"].to_numpy(), drv[0])
        np.testing.assert_allclose(dist["score"].to_numpy(), drv[1], rtol=0, atol=1e-9)
