"""Cheap ``importlib.invalidate_caches()`` for zip-imported packages.

PySpark's Python worker calls ``worker_util.setup_spark_files`` at the
start of every task, reused workers included, and that function calls
``importlib.invalidate_caches()``. On CPython < 3.12,
``zipimport.zipimporter.invalidate_caches`` answers by reading the
archive's whole central directory again, once per zipimporter in
``sys.path_importer_cache``. A worker holds about 16 of them, one per
pyspark subpackage inside ``pyspark.zip`` (~1300 entries), so every
task pays ~0.2 s of CPU before any user code runs. That is the bulk of
the per-task cost of every pandas UDF and ``mapInPandas`` stage.

``install()`` swaps that method for one that re-reads an archive only
when ``os.stat`` shows a changed ``(st_mtime_ns, st_size)`` and
otherwise reuses the directory shared in
``zipimport._zip_directory_cache``. A changed archive is still read
again, so the method keeps its meaning. The package ``__init__`` calls
``install()``; because cloudpickle pickles the package's UDFs by
reference, a worker installs it the first time it unpickles one, and
keeps it for the rest of its life. Workers that never import the
package stay unpatched.

CPython 3.12 made this invalidation lazy (gh-103200), so there
``install()`` does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

# Directory reads done by the patched method; a worker exposes it so
# tests can check that unchanged archives are not read again.
rereads = 0

# archive path -> (st_mtime_ns, st_size) when its cached directory was read
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read(archive: str, stamp: tuple[int, int] | None) -> None:
    """Read ``archive``'s directory into the shared cache, recording
    ``stamp``, taken before the read so a concurrent rewrite is seen as
    a change next time."""
    global rereads
    rereads += 1
    try:
        zipimport._zip_directory_cache[archive] = zipimport._read_directory(archive)
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(archive, None)
        stamp = None
    if stamp is None:
        _stamps.pop(archive, None)
    else:
        _stamps[archive] = stamp


def _invalidate_caches(self) -> None:
    """Reload the archive's file data if the archive changed."""
    archive = self.archive
    stamp = _stamp(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is None or files is None or _stamps.get(archive) != stamp:
        _read(archive, stamp)
        files = zipimport._zip_directory_cache.get(archive, {})
    self._files = files


def install() -> None:
    """Patch ``zipimporter.invalidate_caches``; idempotent, a no-op on
    Python 3.12+."""
    if sys.version_info >= (3, 12):
        return
    if zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    # Directories read before now carry no stamp; read each once more so
    # a rewrite between that read and this call is not missed.
    for archive in list(zipimport._zip_directory_cache):
        _read(archive, _stamp(archive))
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
