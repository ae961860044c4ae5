"""PySpark's worker daemon, started without Spark's zip importers.

The JVM puts ``pyspark.zip``, the py4j zip and the spark-core jar on
the worker path, and every task's ``importlib.invalidate_caches()``
makes each cached ``zipimporter`` re-read its archive. Dropping those
entries before pyspark is first imported makes the workers load the
installed pyspark instead. ``session.get_spark`` selects this module
(``spark.python.daemon.module``) only when that is the JVM's version.
"""

import os
import re
import sys
import zipimport


def spark_archive(path: str) -> bool:
    return bool(re.fullmatch(r"pyspark\.zip|py4j-.*\.zip|spark-core_.*\.jar", os.path.basename(path)))


if __name__ == "__main__":
    sys.path[:] = [p for p in sys.path if not spark_archive(p)]
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and spark_archive(finder.archive):
            del sys.path_importer_cache[key]

    import pyspark.daemon

    pyspark.daemon.manager()
