"""Python-worker daemon for the engine's sessions (``spark.python.daemon.module``).

Spark starts each executor's Python workers by forking them from a
daemon, ``python -m <daemon module> <worker module>``. This module is
that daemon: it is ``pyspark.daemon`` plus one fix to a per-task cost.

``pyspark.worker`` calls ``importlib.invalidate_caches()`` once per
task. On Python < 3.12, ``zipimport.zipimporter.invalidate_caches``
re-reads its archive's whole central directory in pure Python, and a
worker holds one zipimporter per imported package of ``pyspark.zip``
(1,328 entries) plus the ones over the Spark core jar, which Spark puts
on the worker path (5,359 entries). That came to 0.15-0.23 s per task
before the task's function ran (4-core host, Spark 4.1.2, Python
3.11.7), whatever the task's data.

:func:`install` replaces that method with one that re-reads an archive
only when its ``(st_mtime_ns, st_size)`` differs from the stamp the
importer last read it at; a missing archive counts as changed. A
rewritten archive is still re-read, as before; an unchanged one costs
one ``stat``. One read per archive is shared by every importer over it.
Python 3.12 already defers the re-read to the next lookup, so there the
method is left alone.

The patch is applied here, in the daemon, before any worker is forked,
so every worker inherits it from its first task on. It is not applied
when the package is imported: the driver keeps its stdlib as it is.
This module imports only the stdlib and ``pyspark.daemon``, and the
executors must be able to import it (``session.get_spark`` puts the
package on their ``PYTHONPATH``).
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (stamp, directory) of the newest read made through the
# guard, shared by every importer over that archive
_READS: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


if sys.version_info >= (3, 12):
    # already deferred to the next lookup
    invalidate_caches = zipimport.zipimporter.invalidate_caches
else:
    _reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(importer: zipimport.zipimporter) -> None:
        """``zipimporter.invalidate_caches`` that re-reads the archive
        only when its stamp moved since this importer last read it."""
        # stat before reading: an archive rewritten during the read
        # keeps an older stamp and is read again next time
        stamp = _stamp(importer.archive)
        if stamp is not None and getattr(importer, "_stamp", None) == stamp:
            return
        read = _READS.get(importer.archive)
        if stamp is not None and read is not None and read[0] == stamp:
            importer._files = read[1]
        else:
            _reread(importer)
            if stamp is None:
                _READS.pop(importer.archive, None)
            else:
                _READS[importer.archive] = (stamp, importer._files)
        importer._stamp = stamp


def install() -> None:
    """Make :func:`invalidate_caches` every zipimporter's method."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    # stamp the importers the workers inherit, so none re-reads on its
    # first task
    importlib.invalidate_caches()
    daemon.manager()
