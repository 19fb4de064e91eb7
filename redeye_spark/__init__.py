"""redeye_spark — a PySpark-native access-log parse → enrich → route →
aggregate pipeline with the parsing semantics of 56quarters/redeye.

Reference semantics: /root/reference/src/redeye/parser.rs (Common/Combined
NCSA log formats → Logstash-style JSON). This package is a from-scratch
Spark-first design: DataFrame plans, Arrow-vectorized pandas UDFs for the
regex parse, broadcast enrichment joins, predicate fan-out sinks,
partially aggregated counts, and per-partition checkpoint/resume.
"""

__version__ = "0.1.0"
