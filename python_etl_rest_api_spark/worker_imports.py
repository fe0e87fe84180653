"""Import hygiene for code that runs inside Python workers.

Every Python worker task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python 3.11 each
``zipimport.zipimporter`` answers that by re-reading its archive's whole
central directory, and a worker holds 16 of them: ``pyspark.zip`` and 12
of its subpackages (1,328 entries each), the spark-core jar and its
``/org`` (5,359 each) and py4j twice. That is about 27,000 directory
entries parsed per task, 167-274 ms on a reused worker (4-core box),
for archives that do not change between tasks.

``steady_zip_imports`` makes that re-read conditional on the archive
having changed. Every function the package runs inside a Python worker
calls it first (``tests/test_worker_imports.py`` checks this).

The function uses only the standard library, and this module is pickled
by value, so a UDF from a by-value module (``operators/similarity.py``)
ships it without making the worker import the package.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import cloudpickle


def steady_zip_imports() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when it changed. Idempotent; installs once per process.

    The wrapper keeps, per archive path, the ``(st_size, st_mtime_ns)``
    it saw before its last read and the directory that read produced.
    While ``stat`` returns the same pair, every importer of that archive
    (one per subpackage) gets the kept directory and nothing is read. A
    changed archive, including one ``addPyFile`` replaced, is read again;
    a new archive gets a new importer, which reads it once; a failed
    ``stat`` runs the original method. The first call after the install
    reads each archive once, because what it holds is not yet known.

    The install state lives on ``zipimport.zipimporter`` itself, not in
    this module, because a by-value copy of this function has its own
    globals in every task that unpickles it."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "steady", False):
        return
    last_read: dict[str, tuple[tuple[int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        sig = (st.st_size, st.st_mtime_ns)
        kept = last_read.get(self.archive)
        if kept is not None and kept[0] == sig:
            self._files = kept[1]
            return
        original(self)
        last_read[self.archive] = (sig, self._files)

    invalidate_caches.steady = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


cloudpickle.register_pickle_by_value(sys.modules[__name__])
