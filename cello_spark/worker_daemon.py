"""PySpark's Python-worker daemon, started from compiled, preloaded
modules.

`get_spark` sets `spark.python.daemon.module` to this module, with the
package root on `spark.executorEnv.PYTHONPATH`, so each executor runs
`python -m cello_spark.worker_daemon` in place of `pyspark.daemon`.
The daemon forks every Python worker, so whatever it has imported
every worker inherits, compiled and already executed, on copy-on-write
pages. Before handing over to `pyspark.daemon.manager()` it:

1. moves the archives Spark's worker factory puts first on the path
   (`$SPARK_HOME/python/lib/pyspark.zip`, `py4j-*-src.zip`, the
   spark-core jar) behind the interpreter's own paths, when the pyspark
   installed there has the same version as the zip's. The zip holds
   sources only, so every session compiled pyspark again: `import
   pyspark.worker` took 0.72 s from the zip against 0.18 s from the
   installed copy. On a version mismatch the path stays as it is.
2. imports numpy, pandas, pyarrow and PySpark's Arrow serializers
   once, for every worker, in place of once per forked worker.

Importing this module imports `cello_spark` first (it is the parent
package), which applies `_lazy_zip_invalidation` to the daemon and so
to every worker from its first task on.
"""

from __future__ import annotations

import fnmatch
import os
import re
import sys
import zipfile

# basenames of the entries `PythonUtils.sparkPythonPath` adds
_SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")
_VERSION = re.compile(
    r"""^__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""", re.M
)


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return os.path.isfile(entry) and any(
        fnmatch.fnmatch(name, p) for p in _SPARK_ARCHIVES
    )


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m[1] if m else None


def _zip_version(archive: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return _version(z.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(path: list[str]) -> str | None:
    """The version of the first pyspark package directory on `path`:
    the one `import pyspark` finds there."""
    for entry in path:
        pkg = os.path.join(entry or os.curdir, "pyspark")
        if os.path.isfile(os.path.join(pkg, "__init__.py")):
            try:
                with open(os.path.join(pkg, "version.py")) as f:
                    return _version(f.read())
            except OSError:
                return None
    return None


def prefer_installed_pyspark(path: list[str]) -> list[str]:
    """`path` with Spark's archives moved to its end when the pyspark
    on the rest of `path` has the zip's version; `path` itself when
    there is no zip, no installed pyspark, or the versions differ."""
    archives = [e for e in path if _is_spark_archive(e)]
    zips = [e for e in archives if os.path.basename(e) == "pyspark.zip"]
    if not zips:
        return path
    rest = [e for e in path if e not in archives]
    installed = _installed_version(rest)
    if installed is None or installed != _zip_version(zips[0]):
        return path
    return rest + archives


def main() -> None:
    sys.path[:] = prefer_installed_pyspark(sys.path)
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
