"""gleaner_spark — a PySpark-native structured-data harvester.

A from-scratch rebuild of the query/data-processing capabilities of
internetofwater/gleaner (Go) as an idiomatic Spark engine:

- ``core``       pure-Python semantic kernels (JSON-LD fixups, extraction,
                 robots, sitemaps) with reference-exact behavior; no Spark
                 imports so they are cheap to ship to executors.
- ``functions``  vectorized Arrow/pandas UDFs + column expressions wrapping
                 the kernels.
- ``sources``    scans: sitemap XML, robots.txt, pages corpus, YAML config.
- ``operators``  frontier build, politeness scheduling, fetch join,
                 dedup (exact / minhash-LSH / simhash / ngram / embedding),
                 ANN similarity, text analysis, prov/org emitters.
- ``plans``      end-to-end harvest pipeline orchestration + lake tables
                 (parquet + snapshot manifest; Iceberg-compatible layout).
- ``streaming``  incremental recrawl via Structured Streaming (optional).
"""

__version__ = "0.1.0"

from . import _zipcache

_zipcache.install()
