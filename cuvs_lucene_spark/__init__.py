"""cuvs_lucene_spark — a PySpark-native fulltext (inverted index + BM25) and
ANN-sidecar engine with the capabilities of the Lucene stack that
rapidsai/cuvs-lucene plugs into.

Layer A (host Lucene semantics rebuilt Spark-first): segments, postings,
term dictionary, BM25 top-k, merges, deletes, stored-field fetch.
Layer B (the reference codec's dataflow): per-segment vector index build,
scalar/binary quantization, brute-force + IVF search with ``1/(1+dist)``
score normalization, merge-as-rebuild semantics.

Everything is plain DataFrame ops + Arrow-vectorized pandas UDFs over
parquet tables — no RDDs, no custom Catalyst rules, no JVM-side code.
"""

from cuvs_lucene_spark.config import IndexConfig

__all__ = ["IndexConfig"]
__version__ = "0.1.0"
