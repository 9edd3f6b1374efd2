"""log_analysis_ai_spark — a PySpark-native log/transcript analytics engine.

A from-scratch reimplementation of the computational capabilities of the
reference system GetSherlog/log-analysis-ai (a C++/Python log-analysis stack:
mmap readers, six line-format parsers, a Drain-style template miner, DuckDB
query tools), re-expressed Spark-first:

- parse: vectorized regex/grok field extraction over a text column
  (native ``pyspark.sql.functions``; no per-row Python).
- template mining: a two-pass, shard-deterministic Drain miner
  (``applyInPandas`` over salted shards keyed by token-count/masked-prefix).
- enrich: broadcast hash joins against small lookup tables.
- route: frequency-based rarity scoring over event-time windows, fan-out to
  per-sink partitioned tables keyed by (template_class, anomaly_flag).
- aggregate: per-template/per-tool windowed counts.
- lineage: per-stage/per-partition checkpoint rows enabling idempotent resume.

Everything here derives from public knowledge only: the Apache Spark API,
the published Drain algorithm (He et al., "Drain: An Online Log Parsing
Approach with Fixed Depth Tree", ICWS 2017), and the observable behavior of
the reference repo (cited by file:line in docstrings).
"""

__version__ = "0.1.0"

# every UDF the package ships unpickles through the package, so a Spark
# Python worker installs the guard on its first task (see _worker.py)
from . import _worker

if _worker.in_spark_worker():
    _worker.install()
