"""khronus_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of Searchlight/khronus (a distributed
time-series database), re-expressed Spark-first.

The reference (read at /root/reference, cited by path:line in docstrings)
ingests metric measurements, pre-aggregates them into a cascade of time
resolutions (30s..1h), and answers InfluxQL-0.8-style dashboard queries.
Here:

- the rollup cascade is a set of DataFrame aggregations (operators/rollup.py)
- the query language is parsed in pure Python (parser/) and compiled to
  one parameterised Spark SQL statement (plans/executor.py) that
  Catalyst optimizes
- ingestion is batch append or Structured Streaming; the streaming rollup
  upserts each resolution's summaries by (metric, ts) into a
  day-partitioned parquet store (streaming/ingest.py), the one summary
  store the engine reads
- the large-scale training-data operators (dedup, similarity search, text
  analysis, multimodal plumbing) live in operators/

Time is epoch **milliseconds** (long) inside the engine, matching the
reference's value domain (`model/MetricMeasurement.scala:44-52`).
"""

__version__ = "0.1.0"

from khronus_spark.engine import KhronusEngine  # noqa: F401
