"""Build and load the package's C kernels.

Each kernel is one C source beside the module that uses it
(``graph/bounded_dijkstra.c``, ``functions/raster_codecs.c``). On first use
it is compiled with the system C compiler (``cc``) into the package's
``__pycache__``, named by a hash of the source, compiler, flags and machine,
and loaded through ``ctypes``; later imports reuse the build until the
source changes. Without a working compiler, or when the library cannot be
mapped, the import raises ``ImportError``: there is no Python fallback.
"""

from __future__ import annotations

import atexit
import ctypes
import hashlib
import os
import platform
import shutil
import stat
import subprocess
import sys
import tempfile
from importlib import resources

CC = "cc"
CFLAGS = ("-O2", "-std=c99", "-shared", "-fPIC")


def build_kernel(package: str, source_name: str, out_dir: str, cc: str = CC,
                 source: bytes | None = None) -> str:
    """Path of the compiled ``source_name`` (a C file of ``package``) in
    ``out_dir``, compiling it first when no build of this exact source,
    compiler and flags is there. The output is written under a unique name
    and renamed into place, so processes that build at once each load a
    complete library."""
    if source is None:
        source = resources.files(package).joinpath(source_name).read_bytes()
    tag = hashlib.sha256(repr((cc, CFLAGS, platform.machine())).encode()
                         + source).hexdigest()[:16]
    stem = os.path.splitext(source_name)[0]
    path = os.path.join(out_dir, f"{stem}-{tag}.so")
    if os.path.exists(path):
        return path
    cmd = [cc, *CFLAGS, "-o", "k.so", source_name]
    try:
        os.makedirs(out_dir, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=out_dir) as tmp:
            with open(os.path.join(tmp, source_name), "wb") as f:
                f.write(source)
            subprocess.run(cmd, check=True, capture_output=True, cwd=tmp)
            os.replace(os.path.join(tmp, "k.so"), path)
    except subprocess.CalledProcessError as e:
        raise ImportError(
            f"compiling {source_name} failed: {' '.join(cmd)}\n"
            f"{e.stderr.decode(errors='replace')}") from None
    except OSError as e:  # no compiler, one that cannot run, or no room
        raise ImportError(
            f"building the compiled {stem} in {out_dir} failed "
            f"(it needs a working C compiler): "
            f"running {cc!r} as {' '.join(cmd)} ({e})") from None
    return path


def _private(path: str) -> bool:
    """True when ``path`` is a real directory (not a symlink) owned by this
    user and writable by no one else, so no other local user can have put
    a library in it."""
    try:
        st = os.lstat(path)
    except OSError:
        return False
    return (stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid()
            and st.st_mode & 0o022 == 0)


def _build_dir(pkg_dir: str, tmp_root: str | None = None) -> str:
    """The package's ``__pycache__``; when the package is not writable (a
    zip on ``--py-files``), a per-user directory under the temp dir, made
    with mode 0700 and used only if it passes ``_private``. A shared temp
    dir lets any local user create that name first, so when the check
    fails the kernel goes to a fresh private directory of this process,
    removed at exit."""
    here = os.path.join(pkg_dir, "__pycache__")
    try:
        os.makedirs(here, exist_ok=True)
        if os.access(here, os.W_OK):
            return here
    except OSError:
        pass
    tmp_root = tmp_root or tempfile.gettempdir()
    shared = os.path.join(tmp_root, f"routers_spark-{os.getuid()}")
    try:
        os.mkdir(shared, 0o700)
    except OSError:
        pass
    if _private(shared):
        return shared
    own = tempfile.mkdtemp(prefix="routers_spark-", dir=tmp_root)
    atexit.register(shutil.rmtree, own, True)
    return own


def open_library(path: str) -> ctypes.CDLL:
    """``ctypes.CDLL(path)``, with a failure to map it as ``ImportError``."""
    try:
        return ctypes.CDLL(path)
    except OSError as e:
        raise ImportError(
            f"loading the compiled kernel {path} failed ({e}); "
            f"{os.path.dirname(path)} must allow mapping executable code "
            f"(it must not be on a noexec mount)") from None


def load_kernel(package: str, source_name: str) -> ctypes.CDLL:
    """``source_name`` of ``package``, built if needed and loaded."""
    pkg_dir = os.path.dirname(sys.modules[package].__file__)
    return open_library(build_kernel(package, source_name,
                                     _build_dir(pkg_dir)))
