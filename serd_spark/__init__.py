"""serd_spark — a PySpark-native knowledge-graph construction engine.

Re-expresses the capabilities of the reference streaming RDF
reader/writer (``project-renard-survey/serd``; upstream public API:
``serd/serd.h``) as a Spark-first pipeline:

- pure-Python, document-scoped RDF core (:mod:`serd_spark.rdf`) —
  Turtle/TriG/N-Triples/N-Quads parsers, RFC 3986 URI resolution,
  deterministic N-Triples writer with stable blank-node numbering;
- vectorized Arrow/pandas UDF stages (:mod:`serd_spark.operators`) —
  per-document extraction, URI canonicalization, minhash entity
  linking, dedup, similarity search, text analysis;
- sources/sinks (:mod:`serd_spark.sources`) — parquet-backed
  warehouse with snapshot + lineage semantics, synthetic
  Common-Crawl-style ``pages`` corpus generator;
- pipeline plans (:mod:`serd_spark.plans`) — checkpoint-resumable
  end-to-end KG construction.

Everything here derives from public knowledge only: the W3C RDF 1.1
specifications, RFC 3986, the Apache Spark public API, and the
reference's published public surface.
"""

from serd_spark import _zipcache

__version__ = "0.1.0"

_zipcache.install()
