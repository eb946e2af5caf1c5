"""biothings_crawler_spark — a PySpark-native rebuild of the query/data
semantics of biothings/biothings.crawler (reference at /root/reference).

Not a port: the reference is a Scrapy (Twisted event-loop) crawler; this
package re-expresses its dataflow — URL frontier, politeness scheduling,
dedup/seen-set, JSON-LD / HTML-table metadata extraction, per-source
document transforms, analysis aggregations — as DataFrame jobs over
parquet/Iceberg-shaped tables, designed for 10^10-URL frontiers on a
multi-executor cluster.

Layout:
  session     SparkSession factory with scale-tuned defaults
  hashing     pure-Python XXH64 (== Spark's xxhash64, seed 42) for oracles
  urlnorm     URL canonicalization (pure-Python oracle + native-Spark twin)
  oracle/     frozen row-at-a-time reference semantics (the goldens)
  fixtures/   deterministic synthetic corpus generators (FIXTURES.md)
  operators/  seen-set (bloom/cuckoo), politeness window, frontier ops,
              extraction UDFs, dedup, text analysis
  sources/    sitemap / paginated-API / id-range seed expansion
  plans/      crawl round loop, upload transforms, analysis queries
  functions/  scalar function library (citation, tdoc, canonical JSON)
  streaming/  incremental-cursor scan (watermark batch rounds)
"""

__version__ = "0.1.0"
