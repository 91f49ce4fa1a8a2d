"""SparkSession factory.

One place to encode the execution posture of the engine so every entry
point (driver contract, bench, tests) runs with the same configuration.

Scale notes (the configs below are chosen for a 1000-executor / 100 TB
deployment and merely *also* work on local[32]):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion are the main levers that keep the
  declared query suite healthy when the input grows 1000x.
- Arrow on: every Pandas-UDF path (similarity search, multimodal decode)
  moves batches over Arrow instead of pickled rows.
- UTC session timezone: timestamp semantics must not depend on the host.
- shuffle.partitions is a *default*, not a schema property; at cluster
  scale it should be ~2-3x total cores, and AQE coalesces the excess.
- Python worker daemon: ``spark.python.daemon.module`` is
  ``distributed_map_reduce_spark.worker_daemon`` for every Python task
  (MR, ``mapInPandas``/``mapInArrow``, pandas UDFs, ``foreachBatch``).
  Spark's stock daemon makes each task's ``importlib.invalidate_caches()``
  re-read the zip directories of ``pyspark.zip`` and the spark-core jar;
  the engine's daemon re-reads an archive only when it changed. Measured
  on a 4-vCPU host (CPython 3.11.7, local[4]): that call went from
  ~185 ms to 0.15 ms of CPU, and a warm 64-task identity job from
  170-186 ms to 12-15 ms of Python-worker CPU per task. It is a fixed
  engine setting, applied only where the workers can import the package
  (:func:`_worker_daemon_conf`).
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
WORKER_DAEMON_MODULE = "distributed_map_reduce_spark.worker_daemon"


def _worker_daemon_conf(master: str) -> dict[str, str]:
    """``spark.python.daemon.module`` for masters whose Python workers can
    import this package, else nothing (Spark's stock daemon).

    Only ``local``/``local[...]`` masters qualify: their daemon starts in
    the driver's cwd with the driver's ``PYTHONPATH``, and the package is
    importable there when its parent directory is the cwd, is on
    ``PYTHONPATH`` or is a site-packages directory. A ``sys.path.insert``
    in the driver does not reach the workers, and the executors of a
    cluster or ``local-cluster`` master run elsewhere; a daemon module
    they cannot import would fail every Python task.
    """
    if master != "local" and not master.startswith("local["):
        return {}
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    roots = [
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
    ]
    if os.path.realpath(parent) not in {os.path.realpath(r) for r in roots if r}:
        return {}
    return {"spark.python.daemon.module": WORKER_DAEMON_MODULE}


def get_spark(
    app_name: str = "distributed-map-reduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is supplied — on a real cluster the deploy
    environment sets the master and this factory only applies SQL conf.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE (r16 optimization round): a global
        # coalescePartitions.minPartitionSize=64k was tried to stop AQE
        # serializing compute-heavy post-shuffle stages (it sizes by
        # shuffle BYTES, so q104's 310k-candidate array_intersect
        # verify compressed to ~3 MB and ran on 3 tasks). It fixed the
        # hot queries but taxed the ~240-item tail with extra tasks
        # (~+0.3-1 s on many small queries in the full bench). Reverted
        # in favour of explicit repartition at the few measured-hot
        # sites (dedup._verify_band_candidates et al).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet scans: vectorized reader + pushdown are on by default,
        # keep them pinned so a cluster-side conf can't silently regress.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # TIMESTAMP(NANOS) parquet (events.ts) reads as int64; sources/
        # tables.py truncates ns->us. An engine-level posture, declared
        # here — NOT flipped as a read side effect — because Spark
        # consults it again at execution time, so a set/restore scoped
        # to the (lazy) read would break the later action.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local mode: don't spam the console
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in {**_worker_daemon_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
