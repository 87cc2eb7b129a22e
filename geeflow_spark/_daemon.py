"""Python worker daemon for local masters (`spark.python.daemon.module`).

Spark puts `pyspark.zip`, `py4j-*-src.zip` and its spark-core jar first
on the workers' path, and every Python task calls
`importlib.invalidate_caches()`, which makes each cached zipimporter re-read
its archive's directory (0.1-0.3 s of CPU per task). When the installed
pyspark has the zip's version, the daemon moves the zips behind
site-packages and drops the jar, which holds no Python module, before it
forks workers; they then load the installed, unzipped copy. Otherwise it
runs exactly like `pyspark.daemon`.
"""

import os
import re
import sys
import zipfile
from importlib import metadata

_ZIP = re.compile(r"pyspark\.zip|py4j-.*-src\.zip")
_JAR = re.compile(r"spark-core_.*\.jar")


def worker_path(path: list) -> list:
    """`path` with PySpark's zips last and no spark-core jar, or unchanged
    unless the installed pyspark has the zip's version."""
    zips = [p for p in path if _ZIP.fullmatch(os.path.basename(p))]
    spark_zip = next((p for p in zips if p.endswith("pyspark.zip")), None)
    if spark_zip is None:
        return path
    try:
        with zipfile.ZipFile(spark_zip) as z:
            src = z.read("pyspark/version.py").decode()
        zipped = re.search(r"__version__[^=]*=\s*['\"]([^'\"]+)", src).group(1)
        installed = metadata.version("pyspark")
    except Exception as e:  # the stock daemon must still start
        print(f"geeflow_spark._daemon: stock worker path kept: {e!r}",
              file=sys.stderr)
        return path
    if zipped != installed:
        return path
    return [p for p in path if p not in zips
            and not _JAR.fullmatch(os.path.basename(p))] + zips


if __name__ == "__main__":
    sys.path[:] = worker_path(sys.path)
    # Drops the zipimporters cached while `python -m` found this module.
    sys.path_importer_cache.clear()
    from pyspark.daemon import manager
    manager()
