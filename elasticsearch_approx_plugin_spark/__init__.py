"""PySpark-native analytics engine with the capabilities of
``pearson-enabling-technologies/elasticsearch-approx-plugin``.

A brand-new engine (NOT a port): the reference is an Elasticsearch
facet plugin (date histograms with exact-then-HyperLogLog distinct
counts, fast term lists — see SURVEY.md); this repo re-expresses those
capabilities, plus a full inverted-index build + BM25 top-k query
engine over a source-code corpus, as idiomatic PySpark DataFrame
pipelines: declarative plans for Catalyst, Arrow-vectorized UDFs
where Spark lacks the operator, mergeable sketch states carried
as BinaryType through ordinary partial/final aggregation.

Layout
------
- ``sources``    deterministic corpus generator, parquet table loaders
- ``functions``  tokenizers, varint codecs, HyperLogLog, CountThenEstimate
- ``operators``  date facets, distinct-count agg, term lists, postings
                 build, BM25 top-k, dedup, ANN, text analysis, binary
                 media byte stats
- ``plans``      dataclass query specs (the reference's builder API analog)
- ``streaming``  Structured Streaming variants of the facet aggregations
"""

__version__ = "0.1.0"
