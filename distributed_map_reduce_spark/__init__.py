"""distributed_map_reduce_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the reference MapReduce framework
(mohaali482/distributed-map-reduce, a Go implementation of the MIT 6.5840
MapReduce lab) as an idiomatic Spark DataFrame/SQL engine, and extends it
with the relational / text / dedup / similarity / streaming operators a
large-scale (100 TB) training-data pipeline needs.

Layout
------
- ``session``     SparkSession factory (AQE, Arrow, UTC, shuffle sizing)
- ``sources``     typed readers for the driver's parquet tables + binary files
- ``functions``   shared column expressions (tokenizers, vector math)
- ``operators``   the query suite: relational, text, events, dedup,
                  similarity, multimodal, and the ``map_reduce()``
                  compatibility API (the reference's actual surface,
                  /root/reference/src/mr/worker.go:280-281)
- ``plans``       explain/plan-inspection helpers
- ``streaming``   Structured Streaming twin of the batch event queries
- ``worker_daemon`` the executors' Python worker daemon (``session``
                  installs it for local masters)
- ``registry``    single source of truth: query name -> (Spark builder,
                  DuckDB oracle SQL) consumed by ``__spark_entry__.py``,
                  bench.py and the pytest parity suite
"""

__version__ = "0.1.0"
