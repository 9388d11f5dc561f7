"""kingfisher_process_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of open-contracting/kingfisher-process.

Brand-new Spark-first design (NOT a port): relational envelope tables stored
as parquet, JSON payloads kept as raw canonical strings (decimal-faithful),
the OCDS compile step as one arrow group walk per OCID, and an analyst SQL
surface served by Spark SQL / Catalyst.

Reference behavior citations in docstrings point into the public reference
repo (file:line relative to /root/reference).
"""

__version__ = "0.1.0"
