"""es_indexer_spark — a PySpark-native full-text index + BM25 retrieval engine.

A from-scratch re-expression of the query / data-processing capabilities of
the reference `vietnguyengit/es-indexer` (Spring Boot ETL into Elasticsearch,
see /root/reference) as an idiomatic Spark engine:

- analysis chain (tokenize / lowercase / stop / shingle / synonyms) as
  vectorized pandas (Arrow) operations — reference: ES analyzers declared in
  ``stacmodel/src/main/resources/schema/portal_records_index_schema.json``;
- inverted-index build: posting-list construction as sorted
  (term, doc_ordinal, tf) runs, doc-space sharding (the deterministic salt
  that bounds hot-term skew), delta+varint posting compression with
  per-128-doc block-max metadata — the Lucene layer the reference delegates
  to Elasticsearch;
- query engine: term / AND / OR / phrase / prefix / fuzzy lookup with
  block-max WAND top-k BM25 (k1=1.2, b=0.75 — Lucene defaults, never
  overridden by any reference schema) and role/tool field boosts;
- blue/green atomic publish + resumable builds with per-partition
  checkpoint manifest — reference: ``-running`` alias protocol in
  ``indexer/.../service/IndexerMetadataServiceImpl.java:476-523`` and
  ``ElasticSearchIndexService.java:108-207``;
- training-data pipeline operators (dedup, similarity search, text
  quality, sampling, packing) in ``ops/``.
"""

__version__ = "0.1.0"

from es_indexer_spark.session import get_spark  # noqa: F401


def __getattr__(name):  # lazy imports keep `import es_indexer_spark` cheap
    if name == "build_index":
        from es_indexer_spark.index import build_index

        return build_index
    if name == "IndexSearcher":
        from es_indexer_spark.query import IndexSearcher

        return IndexSearcher
    raise AttributeError(name)
