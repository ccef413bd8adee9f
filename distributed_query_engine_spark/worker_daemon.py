"""Python-worker daemon that imports pyspark from the unzipped
``$SPARK_HOME/python`` tree instead of ``lib/pyspark.zip``.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``. A reused worker holds a
zipimporter per pyspark package imported from the zip, and each one
re-reads the archive's central directory on that call: about 0.2-0.3 s
of worker CPU per task, paid by every ``mapInPandas``, ``pandas_udf``
and RDD stage. A directory's finder only forgets its cached listing.

Run as ``python -m distributed_query_engine_spark.worker_daemon`` (set
through ``spark.python.daemon.module``), this module swaps the zip's
``PYTHONPATH`` entry for its unzipped tree and ``execve``s ``python -m
pyspark.daemon``. The process keeps its pid and its stdin/stdout pipes
to the JVM, and its command line still names ``pyspark.daemon``, which
process accounting keys on. :func:`session.get_spark` selects it only
when :func:`unzipped_pyspark` finds a tree equal to the zip and the
workers can import this module.

Standard library only: the package ``__init__`` imports nothing eagerly,
so starting the daemon pays no pyspark import before the exec.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder
from pathlib import Path

_ZIP = "pyspark.zip"
_VERSION = "pyspark/version.py"


def unzipped_pyspark(spark_home: str) -> str | None:
    """``<spark_home>/python`` when it holds the same pyspark as
    ``<spark_home>/python/lib/pyspark.zip`` (byte-equal
    ``pyspark/version.py``), else None."""
    tree = Path(spark_home) / "python"
    try:
        with zipfile.ZipFile(tree / "lib" / _ZIP) as z:
            zipped = z.read(_VERSION)
        unzipped = (tree / _VERSION).read_bytes()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    return str(tree) if zipped == unzipped else None


def importable_from(dirs: list[str]) -> bool:
    """True when ``python -m`` with ``dirs`` as its import path finds
    this module (the package found there must be one that has it)."""
    pkg = __name__.rpartition(".")[0]
    spec = PathFinder.find_spec(pkg, dirs)
    locations = (spec and spec.submodule_search_locations) or ()
    return any((Path(p) / "worker_daemon.py").is_file() for p in locations)


def swap_zip(pythonpath: str) -> str:
    """``pythonpath`` with each ``<x>/python/lib/pyspark.zip`` entry
    replaced by ``<x>/python``."""
    return os.pathsep.join(
        str(Path(p).parent.parent) if Path(p).name == _ZIP else p
        for p in pythonpath.split(os.pathsep)
    )


def main() -> None:
    env = dict(os.environ)
    env["PYTHONPATH"] = swap_zip(env.get("PYTHONPATH", ""))
    argv = [sys.executable, "-m", "pyspark.daemon", *sys.argv[1:]]
    os.execve(sys.executable, argv, env)


if __name__ == "__main__":
    main()
