"""Python-worker bootstrap: a zip importer re-reads its archive only when
the archive changed.

pyspark starts every Python-worker task with ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:setup_spark_files``).  On CPython 3.10-3.12
``zipimporter.invalidate_caches`` eagerly re-reads the archive's whole
central directory, and a worker that imports pyspark from ``pyspark.zip``
holds one zip importer per imported sub-package (14-15 of them, 1,328
entries each): 0.15-0.21 CPU-s per task, more than the decode work of a
PBF scan task.  CPython 3.13 made the method lazy (it drops the cached
directory and ``_get_files`` re-reads it on the next lookup).

``install()`` replaces the method with one that stats the archive first.
Each importer keeps the ``(size, mtime_ns, inode)`` it last read on itself;
an unchanged archive is not re-read, and an importer whose twin (another
importer of the same archive) already read the archive at the current
fingerprint takes over the twin's directory.  A changed or missing archive
gets the stdlib behaviour.  Importing ``osmdatapy_spark`` installs it, so
every worker that unpickles engine code has it from its next task on; the
task that first unpickles engine code has paid already, because pyspark
invalidates before it reads the command.  Kernels nested in engine
functions are pickled by value and carry the ``kernel`` mark, so their
workers import the package too.  Delete this module once the Python floor
is 3.13.
"""

from __future__ import annotations

import os
import sys
import zipimport

# the importer attribute holding the fingerprint of the directory it read
_MARK = "_osmdatapy_mark"


def _fingerprint(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns, st.st_ino)


def _twin(importer, mark):
    """Another importer of ``importer``'s archive that read it at ``mark``."""
    for f in list(sys.path_importer_cache.values()):
        if (
            f is not importer
            and isinstance(f, zipimport.zipimporter)
            and f.archive == importer.archive
            and getattr(f, _MARK, None) == mark
        ):
            return f
    return None


def _make_invalidate(stdlib_invalidate):
    def invalidate_caches(self):
        """Reload the file data of the archive path if the archive changed."""
        mark = _fingerprint(self.archive)
        if mark is not None:
            if getattr(self, _MARK, None) == mark:
                return
            twin = _twin(self, mark)
            if twin is not None:
                self._files = twin._files
                setattr(self, _MARK, mark)
                return
        stdlib_invalidate(self)
        setattr(self, _MARK, mark)

    invalidate_caches.osmdatapy_guard = True
    return invalidate_caches


def kernel(fn):
    """Mark ``fn``, a Python-worker kernel, so that unpickling it in a
    worker imports this package and with it the guard.  A kernel nested in
    an engine function is pickled by value, with only the globals its body
    names; one that names nothing of the package would leave the worker
    unguarded.  cloudpickle carries a function's ``__dict__``, and a module
    in it is pickled as an import."""
    fn.__dict__["_pyworker"] = sys.modules[__name__]
    return fn


def install() -> bool:
    """Install the fingerprint check on ``zipimport.zipimporter``.  Returns
    whether it is in place; a lazy interpreter (3.13+) gets nothing."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):
        return False
    if not getattr(cls.invalidate_caches, "osmdatapy_guard", False):
        cls.invalidate_caches = _make_invalidate(cls.invalidate_caches)
    return True


install()
