"""mycelium_spark — a PySpark-native web-crawl analytics engine.

From-scratch reimplementation of the capabilities of the reference crawl
engine (larroy/mycelium) on Apache Spark: URL frontier + politeness
scheduler over columnar page tables, exact-parity extraction kernels
(URL normalize, robots.txt, HTML text/link extraction) as vectorized
pandas/Arrow UDFs, plus large-scale training-data operators
(dedup, similarity search, text quality, inverted index).
"""


def _install_stat_gated_zip_invalidation() -> None:
    """pyspark's worker calls ``importlib.invalidate_caches()`` before every
    task; below CPython 3.13 that makes each cached ``zipimporter`` re-read
    its whole archive directory (pyspark.zip alone has 1,328 entries).

    Record each archive's (inode, size, mtime_ns) when its directory is
    read. Invalidation re-reads an archive only when that signature has
    changed; otherwise the importer takes the directory read at it. A failed
    ``stat`` defers to the stdlib method. Importers cached before the install
    are brought up to date once, here. 3.13 made the call lazy upstream, so
    it is left alone there; installing twice changes nothing."""
    import os
    import sys
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(stock, "stock"):
        return
    read_directory, last_read = zipimport._read_directory, {}

    def signature(archive):
        st = os.stat(archive)
        return st.st_ino, st.st_size, st.st_mtime_ns

    def _read_directory(archive):
        try:  # stat before reading: a change during the read re-reads next time
            sig = signature(archive)
        except OSError:
            sig = None
        last_read[archive] = sig, read_directory(archive)
        return last_read[archive][1]

    def invalidate_caches(self):
        try:
            sig = signature(self.archive)
        except OSError:
            return stock(self)
        read_sig, files = last_read.get(self.archive, (None, None))
        if sig != read_sig:
            return stock(self)
        self._files = zipimport._zip_directory_cache[self.archive] = files

    invalidate_caches.stock = stock
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer.invalidate_caches()


_install_stat_gated_zip_invalidation()

from .functions.url import (  # noqa: E402, F401
    BadUrl,
    Path,
    Url,
    UrlParseError,
    escape,
    escape_reserved_unsafe,
    normalize_url,
    unescape,
    unescape_all,
    unescape_not,
    unescape_safe,
    valid_host,
)

__version__ = "0.1.0"
