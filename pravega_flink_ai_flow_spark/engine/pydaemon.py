"""Spark Python daemon whose forked workers share one preloaded heap and
re-read a zip archive only when it changed.

Spark starts ``python -m <spark.python.daemon.module> <worker module>``
and forks a worker per task slot. Each worker runs ``gc.collect()``
after every task, which touches every inherited object and so copies
its page; each worker also imports pandas, pyarrow and the engine on
its own. Importing them here once, before any fork, and freezing them
out of the collector keeps those pages shared between workers.

Each task also starts with ``importlib.invalidate_caches()`` (pyspark's
``setup_spark_files``). On CPython 3.11 that makes every zip importer
re-read its whole archive directory at once: a UDF worker holds 16,
over ``pyspark.zip``, the py4j zip and the ``spark-core`` jar, 26,672
entries and about 190 ms per task on 4 cores.
:func:`install_zip_stamps` lets an importer re-read its archive only
when the archive's modification time or size differs from its last
read, so new spark-files paths and archives rewritten in place are
still read. The daemon installs it before forking; Spark's data-source
planner workers always start from ``pyspark.daemon``, and
``io/pravega_source.py`` installs it there when a reused planner worker
first loads the data source.

Importing this module imports nothing beyond the standard library and
changes nothing; the preload runs only as the daemon (``__main__``).
"""

import gc
import os
import sys
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def _stat_stamp(importer):
    try:
        st = os.stat(importer.archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(importer):
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its ``(st_mtime_ns, st_size)`` differs from the stamp recorded at
    this importer's last read; if the archive cannot be stat'ed, it
    re-reads."""
    # The stat comes first: an archive rewritten between it and the read
    # leaves an older stamp, so the next call reads again.
    stamp = _stat_stamp(importer)
    if stamp is None or getattr(importer, "_archive_stamp", None) != stamp:
        _read_archive(importer)
        importer._archive_stamp = stamp


def install_zip_stamps():
    """Patch ``zipimporter.invalidate_caches`` with
    :func:`invalidate_if_changed` and stamp the zip importers in
    ``sys.path_importer_cache``, which read their archives when they
    were made or at the last ``invalidate_caches()``. A second call does
    nothing."""
    if zipimport.zipimporter.invalidate_caches is invalidate_if_changed:
        return
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    for finder in sys.path_importer_cache.values():
        if isinstance(finder, zipimport.zipimporter):
            finder._archive_stamp = _stat_stamp(finder)


if __name__ == "__main__":
    import pyspark.daemon  # imports the worker module named in argv[1]

    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401

    import pravega_flink_ai_flow_spark.io.pravega_source  # noqa: F401
    import pravega_flink_ai_flow_spark.ml.ops  # noqa: F401

    install_zip_stamps()
    gc.freeze()
    pyspark.daemon.manager()
