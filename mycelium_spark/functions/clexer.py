"""ctypes loader for the C lexer kernel (clex.c).

Pure accelerator for the base-class ``html_lex`` path (guide §4.2: do the
heavy lifting in native code inside the UDF): the Python ``HtmlLexer``
stays the canonical spec, subclasses (block segmentation) keep the Python
path, and any build/load failure here falls back to Python — ``get()``
warns once per process, naming the cause, and returns None; callers carry
on with the slower Python kernel.  Byte parity between the two
kernels is pinned by tests/test_clexer.py (golden vectors + synthetic
corpus + differential fuzz).

The shared object is compiled lazily into a /tmp cache keyed by the C
source hash, so the first process on a box pays one ~0.5 s cc invocation
and every later process (including every Spark python worker) just
dlopen()s the cached file.  Rare paths call back into Python: numeric
character references >= 0x800 (unicodedata-checked cp2utf8) and link
resolution for URLs that fail the canonical-form screen (the exact
``Url``/``merge_ref`` kernel).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
import time
import unicodedata
import warnings

from .entities import ENTITY_TABLE, cp2utf8
from .url import BadUrl, Url

_BMP_LIMIT = 0x800  # codepoints below: C-side defined-codepoint bitmap


def _read_source() -> bytes | None:
    """clex.c from the package — filesystem, zip (importlib.resources), or
    the module loader's get_data, in that order."""
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "clex.c")
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        pass
    try:
        from importlib.resources import files

        return (files(__package__) / "clex.c").read_bytes()
    except Exception:
        pass
    try:
        loader = globals().get("__loader__")
        if loader is not None and hasattr(loader, "get_data"):
            return loader.get_data(os.path.join(here, "clex.c"))
    except Exception:
        pass
    return None


def _compile(src: bytes) -> str | None:
    """Compile (once per box) into /tmp keyed by source hash; atomic rename
    so concurrent workers race benignly."""
    h = hashlib.sha256(src).hexdigest()[:16]
    d = os.path.join(tempfile.gettempdir(), f"mycelium_clex_{h}")
    so = os.path.join(d, "clex.so")
    if os.path.exists(so):
        return so
    try:
        os.makedirs(d, exist_ok=True)
        cpath = os.path.join(d, "clex.c")
        tmp_so = os.path.join(d, f"clex.{os.getpid()}.so.tmp")
        if not os.path.exists(cpath):
            tmp_c = cpath + f".{os.getpid()}.tmp"
            with open(tmp_c, "wb") as f:
                f.write(src)
            os.replace(tmp_c, cpath)
        for cc in ("cc", "gcc"):
            try:
                r = subprocess.run(
                    [cc, "-O2", "-fPIC", "-shared", "-o", tmp_so, cpath],
                    capture_output=True,
                    timeout=120,
                )
            except (OSError, subprocess.TimeoutExpired):
                continue
            if r.returncode == 0:
                os.replace(tmp_so, so)
                return so
        # another process may have won the race while we failed/ran
        for _ in range(50):
            if os.path.exists(so):
                return so
            time.sleep(0.1)
    except OSError:
        pass
    return so if os.path.exists(so) else None


def _entity_blob() -> tuple[bytes, int]:
    """Packed sorted (u16 nlen, u16 elen, name, expansion) records; bytes
    sort order == the C binary search comparator (memcmp + length)."""
    parts = []
    items = sorted(ENTITY_TABLE.items())
    for name, exp in items:
        parts.append(
            len(name).to_bytes(2, "little")
            + len(exp).to_bytes(2, "little")
            + name
            + exp
        )
    return b"".join(parts), len(items)


def _def_bitmap() -> bytes:
    bm = bytearray(_BMP_LIMIT // 8)
    for cp in range(_BMP_LIMIT):
        if 0xD800 <= cp <= 0xDFFF:
            continue
        if unicodedata.category(chr(cp)) != "Cn":
            bm[cp >> 3] |= 1 << (cp & 7)
    return bytes(bm)


_RESOLVE_CB_T = ctypes.CFUNCTYPE(
    ctypes.c_ssize_t,
    ctypes.POINTER(ctypes.c_uint8),
    ctypes.c_ssize_t,
    ctypes.c_int,
    ctypes.POINTER(ctypes.c_uint8),
    ctypes.c_ssize_t,
)
_NUMREF_CB_T = ctypes.CFUNCTYPE(
    ctypes.c_ssize_t, ctypes.c_uint32, ctypes.POINTER(ctypes.c_uint8)
)


class _ClexResult(ctypes.Structure):
    _fields_ = [
        ("text", ctypes.c_void_p), ("text_len", ctypes.c_size_t),
        ("title", ctypes.c_void_p), ("title_len", ctypes.c_size_t),
        ("charset", ctypes.c_void_p), ("charset_len", ctypes.c_size_t),
        ("rss", ctypes.c_void_p), ("rss_len", ctypes.c_size_t),
        ("rss2", ctypes.c_void_p), ("rss2_len", ctypes.c_size_t),
        ("atom", ctypes.c_void_p), ("atom_len", ctypes.c_size_t),
        ("index_flag", ctypes.c_int32), ("follow_flag", ctypes.c_int32),
        ("warnings", ctypes.c_int32), ("nlinks", ctypes.c_int32),
        ("linkarena", ctypes.c_void_p),
        ("lk_off", ctypes.POINTER(ctypes.c_size_t)),
        ("lk_len", ctypes.POINTER(ctypes.c_size_t)),
        ("tx_off", ctypes.POINTER(ctypes.c_size_t)),
        ("tx_len", ctypes.POINTER(ctypes.c_size_t)),
        ("handle", ctypes.c_void_p),
    ]


# per-call state for the resolve callback (workers are single-threaded)
_CUR_BASE: Url | None = None


def _resolve_impl(link_p, link_n, mode, out_p, cap):
    try:
        link = ctypes.string_at(link_p, link_n)
        try:
            url = Url(link)
            url.normalize()
            if url.absolute():
                res = url.get()
            else:
                full = _CUR_BASE.copy()
                full.merge_ref(url)
                res = full.get()
        except (BadUrl, ValueError):
            return -1
        n = len(res)
        if n <= cap:
            ctypes.memmove(out_p, res, n)
        return n
    except Exception:
        return -1


def _numref_impl(cp, out_p):
    try:
        b = cp2utf8(cp)
        if b:
            ctypes.memmove(out_p, b, len(b))
        return len(b)
    except Exception:
        return 0


# Process-lifetime keep-alives: clex_init stores raw pointers into these
# objects in C globals, so they must NEVER be collected once handed over —
# even if a _Kernel instance is dropped and a new one created (e.g. a
# test reloading the kernel).  Appending here, not instance attributes
# alone, makes re-init safe.
_KEEPALIVE: list = []


class _Kernel:
    def __init__(self, lib):
        self.lib = lib
        # keep-alives: blobs + callback thunks must outlive the library use
        self._blob, nent = _entity_blob()
        self._bitmap = _def_bitmap()
        self._numref_cb = _NUMREF_CB_T(_numref_impl)
        self._resolve_cb = _RESOLVE_CB_T(_resolve_impl)
        _KEEPALIVE.append((self._blob, self._bitmap, self._numref_cb,
                           self._resolve_cb))
        lib.clex_init.restype = ctypes.c_int
        lib.clex_init.argtypes = [
            ctypes.c_char_p, ctypes.c_int, ctypes.c_char_p, ctypes.c_uint32,
            _NUMREF_CB_T,
        ]
        lib.clex_run.restype = ctypes.c_int
        lib.clex_run.argtypes = [
            ctypes.c_char_p, ctypes.c_size_t, ctypes.c_int, _RESOLVE_CB_T,
            ctypes.POINTER(_ClexResult),
        ]
        lib.clex_free.restype = None
        lib.clex_free.argtypes = [ctypes.POINTER(_ClexResult)]
        if lib.clex_init(self._blob, nent, self._bitmap, _BMP_LIMIT,
                         self._numref_cb) != 0:
            raise OSError("clex_init failed")

    def run(self, html: bytes, base: Url | None):
        """Run the C kernel; returns the raw result tuple
        (text, title, charset, rss, rss2, atom, index, follow, warnings,
        links) or None when the kernel reports failure (OOM)."""
        global _CUR_BASE
        res = _ClexResult()
        _CUR_BASE = base
        try:
            rc = self.lib.clex_run(
                html, len(html), 1 if base is not None else 0,
                self._resolve_cb, ctypes.byref(res),
            )
        finally:
            _CUR_BASE = None
        if rc != 0:
            return None
        try:
            def s(ptr, n):
                return ctypes.string_at(ptr, n) if n else b""

            links = []
            if res.nlinks:
                arena = res.linkarena
                for i in range(res.nlinks):
                    u = ctypes.string_at(arena + res.lk_off[i], res.lk_len[i]) \
                        if res.lk_len[i] else b""
                    t = ctypes.string_at(arena + res.tx_off[i], res.tx_len[i]) \
                        if res.tx_len[i] else b""
                    links.append((u, t))
            return (
                s(res.text, res.text_len),
                s(res.title, res.title_len),
                s(res.charset, res.charset_len),
                s(res.rss, res.rss_len),
                s(res.rss2, res.rss2_len),
                s(res.atom, res.atom_len),
                bool(res.index_flag),
                bool(res.follow_flag),
                int(res.warnings),
                links,
            )
        finally:
            self.lib.clex_free(ctypes.byref(res))


_KERNEL: _Kernel | None = None
_TRIED = False


def get() -> _Kernel | None:
    """The loaded C kernel, or None (unbuildable / load failed): the first
    failure in a process warns with its cause."""
    global _KERNEL, _TRIED
    if _TRIED:
        return _KERNEL
    _TRIED = True
    try:
        src = _read_source()
        if not src:
            raise RuntimeError("clex.c not found in the package")
        so = _compile(src)
        if not so:
            raise RuntimeError("could not compile clex.c (cc/gcc missing or failed)")
        _KERNEL = _Kernel(ctypes.CDLL(so))
    except Exception as e:
        _KERNEL = None
        warnings.warn(
            f"C lexer kernel unavailable, html_lex falls back to the "
            f"Python kernel: {e!r}",
            RuntimeWarning,
            stacklevel=2,
        )
    return _KERNEL
