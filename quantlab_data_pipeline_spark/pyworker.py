"""The Python worker daemon every session of this package runs.

Spark forks its Python workers (``mapInPandas``, ``applyInPandas``,
pandas UDFs) from one daemon process per executor. The stock daemon,
``pyspark.daemon``, imports little before it forks, so each worker
imports numpy, pandas, pyarrow and the Arrow half of pyspark again,
compiling pyspark from the ``pyspark.zip`` source on the workers' path.
That was about 1 s of CPU per worker on a 4-core host, for kernels
whose own work was milliseconds.

This module is that daemon with the work moved before the fork:

1. it imports, once, what every worker would import: the Arrow stack,
   the worker and its pandas serializers, the thread pool the worker
   starts, and this package's ``llm`` kernels;
2. it drops every ``zipimport.zipimporter`` from
   ``sys.path_importer_cache``. The worker calls
   ``importlib.invalidate_caches()`` on every task, and on Python 3.11
   each cached zip importer then re-reads its archive's whole central
   directory in pure Python (``pyspark.zip`` has over 1,300 entries,
   and there is one importer per package directory imported from).
   With everything imported up front, a worker creates none again;
3. it runs ``pyspark.daemon.manager()``.

``session.get_spark`` installs it as ``spark.python.daemon.module``.
"""

from __future__ import annotations

import sys
import zipimport

import concurrent.futures.thread  # noqa: F401  (the worker's thread pool)
import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyarrow.pandas_compat  # noqa: F401
import pyspark.sql.pandas.serializers  # noqa: F401
import pyspark.sql.pandas.types  # noqa: F401
import pyspark.sql.pandas.utils  # noqa: F401
import pyspark.worker  # noqa: F401
from pyspark import daemon

from . import llm  # noqa: F401  (every kernel module imports it)


def drop_zip_importers() -> None:
    """Forget the cached zip importers, so ``invalidate_caches`` in a
    forked worker has no archive directory to re-read."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


if __name__ == "__main__":
    drop_zip_importers()
    daemon.manager()
