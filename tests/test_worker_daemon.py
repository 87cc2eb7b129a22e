"""The local Python worker daemon (`geeflow_spark._daemon`) and the
`get_spark` conf that selects it."""

import os
import subprocess
import sys
import textwrap
import zipfile
from importlib import metadata

from geeflow_spark import _daemon, session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAR = "/spark/jars/spark-core_2.13-4.1.2.jar"


def _fake_spark_zip(tmp_path, version):
    path = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return path


def test_pandas_udf_imports_installed_pyspark(spark):
    import pandas as pd

    def where(batches):
        # A zipimporter re-reads its archive's directory in every task's
        # importlib.invalidate_caches().
        import sys
        import zipimport

        import pyspark
        cached = [k for k, v in sys.path_importer_cache.items()
                  if isinstance(v, zipimport.zipimporter)]
        for b in batches:
            yield pd.DataFrame({"file": [pyspark.__file__] * len(b),
                                "zips": [",".join(cached)] * len(b)})

    rows = spark.range(4, numPartitions=2).mapInPandas(
        where, "file string, zips string").collect()
    files = {r["file"] for r in rows}
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "geeflow_spark._daemon"
    assert files and not any(".zip" in f for f in files), files
    assert {r["zips"] for r in rows} == {""}


def test_worker_path_reorders_only_on_matching_version(tmp_path):
    py4j = str(tmp_path / f"py4j-{metadata.version('py4j')}-src.zip")
    site = "/python/site-packages"
    zipped = _fake_spark_zip(tmp_path, metadata.version("pyspark"))
    path = ["/work", zipped, py4j, JAR, "/repo", site]
    assert _daemon.worker_path(path) == ["/work", "/repo", site]

    # Either zip at another version than the installed one: the stock path.
    old_py4j = str(tmp_path / "py4j-0.0.1-src.zip")
    path = ["/work", zipped, old_py4j, JAR, "/repo", site]
    assert _daemon.worker_path(path) == path
    stale = _fake_spark_zip(tmp_path, "0.0.1")
    path = ["/work", stale, py4j, JAR, "/repo", site]
    assert _daemon.worker_path(path) == path
    # No pyspark.zip, or one that cannot be read: the stock path.
    assert _daemon.worker_path(["/work", py4j, JAR]) == ["/work", py4j, JAR]
    broken = str(tmp_path / "x" / "pyspark.zip")
    assert _daemon.worker_path([broken, JAR]) == [broken, JAR]


def test_daemon_conf_local_masters_only():
    conf = session._with_worker_daemon
    got = conf("local[4]", {})
    assert got["spark.python.daemon.module"] == "geeflow_spark._daemon"
    assert got["spark.executorEnv.PYTHONPATH"] == ROOT
    assert conf("local", {"spark.executorEnv.PYTHONPATH": "/x"})[
        "spark.executorEnv.PYTHONPATH"] == os.pathsep.join([ROOT, "/x"])
    assert conf("spark://host:7077", {}) == {}
    assert conf("yarn", {}) == {}
    stock = {"spark.python.daemon.module": "pyspark.daemon"}
    assert conf("local[2]", stock) == stock


def test_pandas_udf_from_outside_the_repo(tmp_path):
    # Workers start the daemon with `python -m`; from a directory where
    # the package is not importable and with PYTHONPATH empty, the
    # session still has to give them a way to import it.
    script = tmp_path / "run.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        import pandas as pd
        from geeflow_spark.session import get_spark

        def double(batches):
            for b in batches:
                yield b.assign(id=b["id"] * 2)

        spark = get_spark("outside", master="local[1]")
        daemon = spark.sparkContext.getConf().get(
            "spark.python.daemon.module")
        got = sorted(r["id"] for r in spark.range(3)
                     .mapInPandas(double, "id long").collect())
        spark.stop()
        print("RESULT", daemon, got)
    """))
    env = dict(os.environ, PYTHONPATH="", SPARK_DRIVER_MEMORY="1g")
    env.pop("SPARK_MASTER", None)
    proc = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith("RESULT")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    assert lines[-1] == "RESULT geeflow_spark._daemon [0, 2, 4]"
