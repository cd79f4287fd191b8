"""docs_indexer_spark — a PySpark-native full-text inverted-index build +
BM25 query engine with the capabilities of giantswarm/docs-indexer.

The reference (read-only at /root/reference) is a single-threaded Python ETL
that extracts text from Markdown/HTML and delegates indexing + BM25 to
OpenSearch.  This package re-expresses both planes Spark-first:

- extraction/  vectorized (Arrow / pandas-UDF) HTML→text, markdown→text,
               front-matter parsing (reference: common.py:33-38,
               hugo.py:244-293)
- functions/   analysis chains (standard tokenizer, lowercase, english
               stopwords + Porter stemming, shingles, reverse) — reference
               configures these in OpenSearch (common.py:4-31,
               mappings/hugo.json)
- operators/   inverted-index construction, posting-block compression
               (delta+varint), exact BM25 block scoring and top-k,
               dedup / similarity / text-quality operators
- plans/       end-to-end build + query pipelines with per-partition
               lineage checkpoints and atomic publish
- sources/     deterministic corpus synthesizer (input_hint shape) and a
               snapshot catalog (parquet-backed, Iceberg-equivalent
               semantics: snapshot ids, atomic swap, fingerprint skip)
- oracle/      single-process pure-Python reference engine used as the
               rank-identity oracle in tests
"""

__version__ = "0.1.0"

from docs_indexer_spark import _worker

_worker.install()
