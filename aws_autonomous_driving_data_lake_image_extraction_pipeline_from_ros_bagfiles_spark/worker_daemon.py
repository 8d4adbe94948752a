"""Python worker daemon for the engine's sessions (``spark.python.daemon.module``).

Spark puts ``pyspark.zip`` first on every worker's path, so each imported
pyspark package gets its own ``zipimporter``. Every task calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``), and
``zipimporter.invalidate_caches`` re-reads its archive's whole directory:
~10 ms per importer on CPython 3.11, 140-320 ms per task before any user
code runs. This daemon makes that re-read happen only when the archive's
size or mtime changed since the importer last read it, then runs Spark's
own daemon, so every forked worker inherits the patch. A new or rewritten
archive (``addPyFile``) is still read; file-system finders are untouched.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(importer: zipimport.zipimporter) -> None:
    try:
        st = os.stat(importer.archive)
    except OSError:
        return _reread(importer)
    sig = (st.st_size, st.st_mtime_ns)
    if getattr(importer, "_read_sig", None) != sig:
        _reread(importer)
        importer._read_sig = sig


def main() -> None:
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    daemon.manager()


if __name__ == "__main__":
    # run main() from the module under its package name, not __main__, so
    # the patch a worker sees names this module
    importlib.import_module(__spec__.name).main()
