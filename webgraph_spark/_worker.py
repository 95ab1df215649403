"""Prune a Spark Python worker's import caches once, on its first engine task.

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's central
directory. A fresh worker caches one importer per archive dir it imported
from — ``pyspark.zip`` alone under a dozen keys (the zip plus subpackage dirs
such as ``pyspark.zip/pyspark/sql``) — and Spark puts ``spark-core_*.jar``
(over 5,000 entries, no Python) on the workers' ``PYTHONPATH``. The re-reads
were most of the cost of a small Python task.

Every engine UDF unpickles a function from ``webgraph_spark``, so importing
the package inside a worker runs :func:`prune_import_caches` once per worker
process. It changes what the worker re-reads, never what it imports.
"""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

_PYTHON_SUFFIXES = (".py", ".pyc")


def _holds_python(archive: str) -> bool:
    try:
        with zipfile.ZipFile(archive) as zf:
            return any(name.endswith(_PYTHON_SUFFIXES) for name in zf.namelist())
    except (OSError, zipfile.BadZipFile):
        return True  # unreadable: leave it as it is


def prune_import_caches() -> None:
    """Drop Python-free archives from ``sys.path`` and every cached
    ``zipimporter`` whose key is not on ``sys.path``.

    The dropped importers are subpackage dirs inside an archive: pure cache,
    rebuilt from ``zipimport``'s own directory cache the next time a module is
    imported from that dir. An archive is dropped from ``sys.path`` only after
    its listing shows no ``.py``/``.pyc`` file, so a build that ships pyspark
    inside a jar keeps it.
    """
    cache = sys.path_importer_cache
    sys.path[:] = [
        p
        for p in sys.path
        if not (isinstance(cache.get(p), zipimport.zipimporter) and not _holds_python(p))
    ]
    on_path = set(sys.path)
    for key, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and key not in on_path:
            del cache[key]


if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:  # only inside a Spark Python worker
    prune_import_caches()
