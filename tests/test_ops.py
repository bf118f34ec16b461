"""Training-pipeline operators over the driver-provided documents /
embeddings tables, cross-checked against DuckDB implementations of the
same semantics (the same comparisons the driver's correctness gate runs)."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from es_indexer_spark.ops import dedup, similarity, textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _duck(sql: str):
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from parquet_scan('{SF}/documents.parquet')"
    )
    con.execute(
        f"create view embeddings as select * from parquet_scan('{SF}/embeddings.parquet')"
    )
    return con.execute(sql).df()


def _cmp(spark_df, sql, keys):
    got = spark_df.toPandas().sort_values(keys).reset_index(drop=True)
    want = _duck(sql).sort_values(keys).reset_index(drop=True)
    assert len(got) == len(want), (len(got), len(want))
    got = got[want.columns]
    for c in want.columns:
        a, w = got[c].to_numpy(), want[c].to_numpy()
        if w.dtype.kind == "f":
            np.testing.assert_allclose(a.astype(float), w, rtol=0, atol=1e-9, err_msg=c)
        else:
            assert (a == w).all(), c
    return got


def test_token_counts(docs):
    _cmp(textstats.token_counts(docs), textstats.sql_token_counts(), ["doc_id"])


def test_bpe_token_counts(docs):
    got = _cmp(
        textstats.bpe_token_counts(docs), textstats.sql_bpe_token_counts(), ["doc_id"]
    )
    assert (got["n_pieces"] > 0).all()


def test_language_id(docs):
    got = _cmp(textstats.language_id(docs), textstats.sql_language_id(), ["doc_id"])
    assert set(got["pred_lang"]) <= {"en", "es", "fr", "de", "und"}


def test_quality_features(docs):
    _cmp(textstats.quality_features(docs), textstats.sql_quality_features(), ["doc_id"])


def test_content_fingerprint(docs):
    _cmp(textstats.content_fingerprint(docs), textstats.sql_content_fingerprint(), ["doc_id"])


def test_exact_duplicates(docs):
    got = _cmp(
        dedup.exact_duplicates(docs), dedup.sql_exact_duplicates(), ["fingerprint"]
    )
    assert (got["n_dups"] > 1).all()


def test_ngram_jaccard_pairs(docs):
    _cmp(
        dedup.ngram_jaccard_pairs(docs, threshold=0.5),
        dedup.sql_ngram_jaccard_pairs(threshold=0.5),
        ["id_a", "id_b"],
    )


def test_ngram_jaccard_max_df_matches_sql(docs):
    # the hot-shingle cap must agree with its DuckDB mirror even when it
    # actually drops shingles (max_df=5 bites on this corpus)
    _cmp(
        dedup.ngram_jaccard_pairs(docs, threshold=0.3, max_df=5),
        dedup.sql_ngram_jaccard_pairs(threshold=0.3, max_df=5),
        ["id_a", "id_b"],
    )


def test_ngram_jaccard_hot_shingle_cap_bounds_candidates(spark):
    """Zipfian skew: one shingle shared by ALL docs. Uncapped, the self-join
    emits C(n,2) candidate pairs; with max_df the ubiquitous shingle is
    dropped and only genuinely-similar docs pair up."""
    n = 60
    rows = []
    for i in range(n):
        extra = " ".join(f"u{i}x{j}" for j in range(6))
        rows.append((f"d{i:03d}", f"hot hot hot hot {extra}"))
    # one true near-dup pair sharing discriminative content
    rows[0] = ("d000", "hot hot hot hot alpha beta gamma delta epsilon zeta")
    rows[1] = ("d001", "hot hot hot hot alpha beta gamma delta epsilon eta")
    df = spark.createDataFrame(rows, "doc_id string, text string")

    uncapped = dedup.ngram_jaccard_pairs(df, threshold=0.0).toPandas()
    assert len(uncapped) == n * (n - 1) // 2  # quadratic blowup: every pair

    capped = dedup.ngram_jaccard_pairs(df, threshold=0.0, max_df=10).toPandas()
    assert len(capped) == 1  # only the real near-dup survives the cap
    assert tuple(capped.iloc[0][["id_a", "id_b"]]) == ("d000", "d001")
    # and its jaccard is computed over the retained shingle space only
    assert 0 < capped["jaccard"].iloc[0] <= 1


def test_minhash_lsh_recall_and_precision(docs):
    exact = (
        dedup.ngram_jaccard_pairs(docs, threshold=0.8)
        .toPandas()
        .sort_values(["id_a", "id_b"])
    )
    lsh = (
        dedup.minhash_lsh_pairs(docs, threshold=0.8, num_hashes=64, bands=32)
        .toPandas()
        .sort_values(["id_a", "id_b"])
    )
    exact_pairs = set(map(tuple, exact[["id_a", "id_b"]].values))
    lsh_pairs = set(map(tuple, lsh[["id_a", "id_b"]].values))
    # precision exact by construction (verified); recall high (32 bands x 2 rows)
    assert lsh_pairs <= exact_pairs
    if exact_pairs:
        assert len(lsh_pairs) / len(exact_pairs) >= 0.9


def test_simhash_pairs(docs):
    out = dedup.simhash_pairs(docs, max_hamming=3).toPandas()
    assert (out["hamming"] <= 3).all()
    # exact duplicates must be hamming-0 simhash pairs
    ex = dedup.exact_duplicates(docs).toPandas()
    if len(ex):
        sh = dedup.simhash_fingerprints(docs).toPandas().set_index("id")["simhash"]
        fp_of = (
            textstats.content_fingerprint(docs).toPandas().set_index("doc_id")["fingerprint"]
        )
        groups = fp_of.groupby(fp_of).groups
        for _, ids in groups.items():
            if len(ids) > 1:
                assert sh[list(ids)].nunique() == 1


def test_embedding_dup_pairs_exact_matches_sql(emb):
    got = _cmp(
        similarity.embedding_dup_pairs(emb, threshold=0.4, method="exact"),
        similarity.sql_embedding_dup_pairs(threshold=0.4),
        ["id_a", "id_b"],
    )
    assert len(got) > 0  # threshold chosen so the check is non-vacuous


def test_embedding_dup_pairs_exact_multiblock_identical(emb):
    """The block-pair GEMM must be invariant to the block grid: forcing
    many small blocks (real 10^9-vector geometry, scaled down) yields
    byte-identical pairs to the degenerate single-block run."""
    one = (
        similarity.embedding_dup_pairs(emb, threshold=0.4, method="exact")
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    many = (
        similarity.embedding_dup_pairs(
            emb, threshold=0.4, method="exact", rows_per_block=37
        )
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    assert len(one) > 0
    assert one[["id_a", "id_b"]].values.tolist() == many[["id_a", "id_b"]].values.tolist()
    np.testing.assert_array_equal(one["cosine"], many["cosine"])


def test_no_unbounded_topandas_in_package():
    """Grep guard (like the no-F.udf one): every ``.toPandas()`` in the
    package must be bounded — a k-row top-k result, an explicit
    ``.limit(...)`` sample, or the declared driver-side test referee in
    oracle.py. A new unbounded full-table driver materialization (the
    round-2 VERDICT anti-pattern) breaks this count."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "es_indexer_spark")
    allowed = {
        # file -> (max occurrences, why they are bounded)
        "query/engine.py": (3, "auto-dispatch returns: k-row top-k/suggest results"),
        "query/dsl.py": (1, "fast-path dispatch return: k-row top-k result"),
        "oracle.py": (1, "rank-identity test referee, driver-side by design"),
        "ops/similarity.py": (1, ".limit(sample)-bounded IVF centroid training"),
    }
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, pkg).replace(os.sep, "/")
        n = open(path).read().count(".toPandas(")
        cap = allowed.get(rel, (0, ""))[0]
        assert n <= cap, f"{rel}: {n} .toPandas() calls (allowed {cap})"
    # the .limit-bounded one in similarity.py must stay on a .limit chain
    sim = open(os.path.join(pkg, "ops", "similarity.py")).read()
    for line in sim.splitlines():
        if ".toPandas(" in line:
            assert ".limit(" in line, f"unbounded toPandas in similarity.py: {line}"


def test_embedding_dup_pairs_lsh_subset_of_exact(emb):
    """LSH path: precision exact (every pair passed the cosine verify),
    recall bounded by the multi-table S-curve — so LSH ⊆ exact, and with
    generous tables the miss rate stays small."""
    exact = similarity.embedding_dup_pairs(emb, threshold=0.4, method="exact").toPandas()
    lsh = similarity.embedding_dup_pairs(
        emb, threshold=0.4, method="lsh", n_tables=16, n_planes=6
    ).toPandas()
    e = set(map(tuple, exact[["id_a", "id_b"]].values))
    l = set(map(tuple, lsh[["id_a", "id_b"]].values))
    assert l <= e
    if e:
        assert len(l) / len(e) >= 0.5  # recall floor for these parameters


def test_cosine_topk_sql_vs_duckdb(emb):
    qv = emb.filter("vec_id = 0").toPandas()["embedding"].iloc[0]
    _cmp(
        similarity.cosine_topk_sql(emb, qv, k=10),
        similarity.sql_cosine_topk("embeddings", qv, k=10),
        ["vec_id"],
    )


def test_cosine_arrow_matches_sql_path(emb):
    qv = emb.filter("vec_id = 1").toPandas()["embedding"].iloc[0]
    a = similarity.cosine_topk_sql(emb, qv, k=10).toPandas()
    b = similarity.cosine_topk_arrow(emb, qv, k=10).toPandas()
    assert a["vec_id"].tolist() == b["vec_id"].tolist()
    np.testing.assert_allclose(a["cosine"], b["cosine"], atol=1e-6)


def test_lsh_ann_recall_on_clustered_vectors(spark):
    # the driver's embeddings are ~uniform on the sphere (top-1 cosine ~0.3,
    # median 0) — no LSH geometry to exploit there. Recall is asserted on
    # clustered vectors, ANN's actual use case.
    rng = np.random.RandomState(3)
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[np.arange(500) % 10] + rng.normal(scale=0.08, size=(500, 64))
    pdf = [(int(i), [float(x) for x in vecs[i]]) for i in range(500)]
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    qv = vecs[7]
    exact = similarity.cosine_topk_arrow(df, qv, k=10).toPandas()
    ann = similarity.lsh_ann_topk(df, qv, k=10).toPandas()
    overlap = len(set(exact["vec_id"]) & set(ann["vec_id"]))
    assert overlap >= 8  # recall@10 >= 0.8 on clustered data
    assert ann["cosine"].is_monotonic_decreasing


def test_lsh_ann_smoke_on_flat_embeddings(emb):
    qv = emb.filter("vec_id = 2").toPandas()["embedding"].iloc[0]
    ann = similarity.lsh_ann_topk(emb, qv, k=10).toPandas()
    assert len(ann) <= 10 and ann["cosine"].is_monotonic_decreasing


def test_ivf_ann_recall_on_clustered_vectors(spark):
    rng = np.random.RandomState(4)
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[np.arange(500) % 10] + rng.normal(scale=0.08, size=(500, 64))
    pdf = [(int(i), [float(x) for x in vecs[i]]) for i in range(500)]
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    qv = vecs[13]
    exact = similarity.cosine_topk_arrow(df, qv, k=10).toPandas()
    ann = similarity.ivf_ann_topk(df, qv, k=10, n_centroids=12, nprobe=3).toPandas()
    overlap = len(set(exact["vec_id"]) & set(ann["vec_id"]))
    assert overlap >= 9  # with clear clusters, IVF probes the right lists
    # probing is a real subset: candidate lists cover < half the corpus
    C = similarity.train_ivf_centroids(df, 12)
    assign = similarity.ivf_assign(df, C).toPandas()
    assert assign["list_id"].nunique() >= 8


def test_ivf_assignment_deterministic(spark, emb):
    C1 = similarity.train_ivf_centroids(emb, 8)
    C2 = similarity.train_ivf_centroids(emb, 8)
    np.testing.assert_array_equal(C1, C2)


def test_shingling_long_doc_is_not_quadratic(spark):
    """The materialized-token shingle path must stay linear on long docs:
    a 60k-token document would be ~3.6e9 regex evaluations under the old
    captured-tokenizer formulation (minutes); with the token attribute
    materialized it is one tokenize + one linear transform."""
    import time

    n = 60_000
    text = " ".join(f"w{i}" for i in range(n))
    df = spark.createDataFrame([("big", text)], "doc_id string, text string")
    t0 = time.perf_counter()
    out = dedup.with_shingles(df, 8).select(
        "doc_id", __import__("pyspark.sql.functions", fromlist=["size"]).size("_sh").alias("k")
    ).collect()
    wall = time.perf_counter() - t0
    assert out[0]["k"] == n - 7
    assert wall < 30, f"long-doc shingling took {wall:.1f}s (captured tokenizer?)"
