"""The Python worker boundary: the daemon that imports the installed
pyspark (engine.pyworker), the worker allocator environment and the
one-stage affine block stage."""
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import numpy as np

from engine.blocks import local_affines_to_field
from engine.pyworker import unzipped_path

ROOT = Path(__file__).resolve().parent.parent
SPARK_ARCHIVES = ("pyspark.zip", "-src.zip", ".jar")
# this interpreter's own path, without any archive Spark may have put on it
BASE_PATH = [p for p in sys.path if not p.endswith(SPARK_ARCHIVES)]


def test_worker_imports_installed_pyspark_with_no_zip_importers(spark):
    def probe(_):
        import pyspark

        yield pyspark.__file__, list(sys.path_importer_cache)

    [(pyspark_file, keys)] = spark.sparkContext.parallelize([0], 1) \
        .mapPartitions(probe).collect()
    assert ".zip" not in pyspark_file
    assert [k for k in keys if k.endswith(SPARK_ARCHIVES)] == []
    assert [k for k in keys if "pyspark.zip" in k] == []


def test_daemon_found_through_executor_pythonpath(tmp_path):
    # The driver finds the engine through its own sys.path; the workers
    # start in a directory without it and no PYTHONPATH is inherited, so
    # only spark.executorEnv.PYTHONPATH can lead them to engine.pyworker.
    script = f"""
import sys
sys.path.insert(0, {str(ROOT)!r})
from engine.session import get_spark

def fn(batches):
    import pandas as pd
    for _ in batches:
        yield pd.DataFrame({{"main": [sys.modules["__main__"].__spec__.name]}})

spark = get_spark("cwd_probe")
print("MAIN=" + spark.range(1).mapInPandas(fn, "main string").first().main)
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "MAIN=engine.pyworker" in out.stdout.splitlines()


def test_numpy_hugepage_madvise_off_from_session_import():
    # numpy reads the variable once, at its own import, which may come
    # before any session is built
    env = {k: v for k, v in os.environ.items() if k != "NUMPY_MADVISE_HUGEPAGE"}
    out = subprocess.run(
        [sys.executable, "-c", "import os, engine.session, numpy; "
         "print(os.environ['NUMPY_MADVISE_HUGEPAGE'])"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split() == ["0"]


def _fake_pyspark_zip(tmp_path, version_py: bytes) -> str:
    archive = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", version_py)
    return str(archive)


def _installed_pyspark_version() -> bytes:
    import pyspark

    return (Path(pyspark.__file__).parent / "version.py").read_bytes()


def test_version_guard_keeps_path_when_zip_version_differs(tmp_path):
    fake = _fake_pyspark_zip(tmp_path, b"__version__: str = '0.0.0'\n")
    assert _installed_pyspark_version() != b"__version__: str = '0.0.0'\n"
    path = [fake, str(tmp_path / "spark-core.jar"), *BASE_PATH]
    assert unzipped_path(path) == path


def test_version_guard_drops_archives_when_zip_version_matches(tmp_path):
    fake = _fake_pyspark_zip(tmp_path, _installed_pyspark_version())
    jar = str(tmp_path / "spark-core.jar")
    path = [fake, jar, *BASE_PATH]
    assert unzipped_path(path) == [p for p in path if p not in (fake, jar)]


def test_version_guard_keeps_path_without_a_pyspark_zip():
    path = ["/nonexistent/spark-core.jar", *BASE_PATH]
    assert unzipped_path(path) == path


def test_affine_stage_is_one_shuffle_free_stage(spark):
    sc = spark.sparkContext
    g = (4, 4, 4)
    aff = np.broadcast_to(np.eye(4), g + (4, 4)).copy()
    df = local_affines_to_field(spark, aff, (3, 3, 3), (1, 1, 1), (1, 1, 1))
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()

    group = "test_affine_stage"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 64
    tracker = sc.statusTracker()
    stages = [s for j in tracker.getJobIdsForGroup(group)
              for s in tracker.getJobInfo(j).stageIds]
    assert len(stages) == 1
    assert tracker.getStageInfo(stages[0]).numTasks == min(64, sc.defaultParallelism)
