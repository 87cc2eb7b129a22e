"""Python worker daemon for local masters (`spark.python.daemon.module`).

Spark puts `pyspark.zip`, `py4j-*-src.zip` and its spark-core jar first
on the workers' path, and every Python task calls
`importlib.invalidate_caches()`, which makes each cached zipimporter re-read
its archive's directory (0.1-0.3 s of CPU per task). When the installed
pyspark and py4j have the zips' versions, the daemon drops the zips and the
jar, which holds no Python module, from the path before it forks workers;
they then load the installed, unzipped copies and cache no zipimporter
(an import that misses every path entry would otherwise cache one for each
zip left on the path). Otherwise it runs exactly like `pyspark.daemon`.
"""

import os
import re
import sys
import zipfile
from importlib import metadata

_ZIP = re.compile(r"pyspark\.zip|py4j-(.*)-src\.zip")
_JAR = re.compile(r"spark-core_.*\.jar")


def worker_path(path: list) -> list:
    """`path` without PySpark's zips and the spark-core jar, or unchanged
    unless the installed pyspark and py4j have the zips' versions."""
    zips = {p: m for p in path if (m := _ZIP.fullmatch(os.path.basename(p)))}
    spark_zip = next((p for p in zips if p.endswith("pyspark.zip")), None)
    if spark_zip is None:
        return path
    try:
        with zipfile.ZipFile(spark_zip) as z:
            src = z.read("pyspark/version.py").decode()
        zipped = {"pyspark": re.search(
            r"__version__[^=]*=\s*['\"]([^'\"]+)", src).group(1)}
        zipped.update(("py4j", m.group(1)) for m in zips.values()
                      if m.group(1))
        same = all(metadata.version(d) == v for d, v in zipped.items())
    except Exception as e:  # the stock daemon must still start
        print(f"geeflow_spark._daemon: stock worker path kept: {e!r}",
              file=sys.stderr)
        return path
    if not same:
        return path
    return [p for p in path if p not in zips
            and not _JAR.fullmatch(os.path.basename(p))]


if __name__ == "__main__":
    sys.path[:] = worker_path(sys.path)
    # Drops the zipimporters cached while `python -m` found this module.
    sys.path_importer_cache.clear()
    from pyspark.daemon import manager
    manager()
