"""pii_redactor_spark — a PySpark-native quality-filter + PII-scrub analytics engine.

Re-expresses the data-processing semantics of the reference repo
``a-agmon/pii-redactor`` (single-machine, row-at-a-time Python) as an idiomatic
Spark DataFrame pipeline over an Iceberg-style table of image+caption pairs:

* entity detection / classification / span redaction  -> one Arrow-vectorized
  pandas UDF stage (``operators.scrub``)
* language ID + quality heuristics + n-gram perplexity -> same UDF stage
* partitioning by phash prefix, salted repartition for skew, AQE
* manifest-committed partition groups, one directory of files per snapshot,
  per-partition lineage read from the committed data, batch resume by
  anti-joining the committed set (``pipeline``)

Everything here derives from public knowledge only: the PySpark API and the
reference repo's observable behavior (cited by file:line in docstrings).
"""

__version__ = "0.1.0"
