"""Python workers under the engine's worker daemon
(``distributed_map_reduce_spark.worker_daemon``): the per-task
``importlib.invalidate_caches()`` leaves unchanged archives alone,
``addPyFile`` still reaches live workers, and a driver whose workers
cannot import the package keeps Spark's stock daemon."""

import os
import subprocess
import sys
import uuid
import zipfile

from distributed_map_reduce_spark.session import WORKER_DAEMON_MODULE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _one_task(spark, fn):
    return spark.sparkContext.parallelize([0], 1).mapPartitions(fn).collect()


def test_task_invalidation_keeps_pyspark_zip_directories(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == WORKER_DAEMON_MODULE

    def probe(_):
        import importlib
        import zipimport

        def pyspark_zip_importers():
            return {
                key: imp._files
                for key, imp in sys.path_importer_cache.items()
                if isinstance(imp, zipimport.zipimporter)
                and imp.archive.endswith("pyspark.zip")
            }

        importlib.invalidate_caches()
        before = pyspark_zip_importers()
        importlib.invalidate_caches()
        changed = [
            key
            for key, files in before.items()
            if sys.path_importer_cache[key]._files is not files
        ]
        yield len(before), changed

    [(importers, changed)] = _one_task(spark, probe)
    assert importers > 0
    assert changed == []


def test_add_py_file_reaches_live_workers(spark, tmp_path):
    _one_task(spark, lambda it: [sum(1 for _ in it)])  # workers are live
    tag = uuid.uuid4().hex[:8]
    py_mod, zip_mod = f"wd_addpy_{tag}", f"wd_addzip_{tag}"
    (tmp_path / f"{py_mod}.py").write_text("KIND = 'py'\n")
    with zipfile.ZipFile(tmp_path / f"{zip_mod}.zip", "w") as zf:
        zf.writestr(f"{zip_mod}.py", "KIND = 'zip'\n")
    spark.sparkContext.addPyFile(str(tmp_path / f"{py_mod}.py"))
    spark.sparkContext.addPyFile(str(tmp_path / f"{zip_mod}.zip"))

    def use(it):
        import importlib

        for _ in it:
            yield (
                importlib.import_module(py_mod).KIND,
                importlib.import_module(zip_mod).KIND,
            )

    kinds = spark.sparkContext.parallelize(range(8), 4).mapPartitions(use)
    assert set(kinds.collect()) == {("py", "zip")}


def test_unimportable_package_keeps_stock_daemon(tmp_path):
    """From a cwd outside the repo, with the package reached only through
    ``sys.path.insert``, workers could not import the daemon module: the
    session must not name it, and Python tasks must still run."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from distributed_map_reduce_spark.session import get_spark\n"
        "s = get_spark('daemon-gate', master='local[1]', shuffle_partitions=1)\n"
        "print('DAEMON', s.sparkContext.getConf().get('spark.python.daemon.module'))\n"
        "print('ROWS', s.range(4).mapInPandas(lambda it: it, 'id long').count())\n"
        "s.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "DAEMON None" in out.stdout
    assert "ROWS 4" in out.stdout
