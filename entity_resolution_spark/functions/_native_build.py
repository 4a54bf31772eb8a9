"""Build-and-load for the optional C kernels (``_lcs_native``,
``_smooth_native``).

The compiled ``.so`` is cached under a content-addressed name, so every
Python worker of a host shares one build. Loading a shared library runs
its code, so a library is only ever loaded from a cache directory that
no other user can write to:

- the directory is ``ERS_NATIVE_CACHE`` when set, else a per-user
  ``ers-native-<uid>`` directory (mode 0700) under the temp dir;
- the directory must be a real directory (not a symlink) owned by the
  current user and writable by neither group nor others — otherwise the
  kernel is not loaded and callers keep their pure-Python path;
- the same check applies to the ``.so`` itself (a regular file); a cached
  file that fails it is rebuilt and atomically replaced before loading.
"""

from __future__ import annotations

import contextlib
import ctypes
import hashlib
import os
import stat
import subprocess
import tempfile


def _private(path: str, want) -> bool:
    """``path`` is a non-symlink entry of kind ``want`` (a stat.S_IS*
    test), owned by this user, writable by neither group nor others."""
    try:
        st = os.lstat(path)
    except OSError:
        return False
    return (
        want(st.st_mode)
        and st.st_uid == os.getuid()
        and not st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)
    )


def cache_dir() -> str | None:
    """The kernel cache directory, or None when it is not private."""
    path = os.environ.get("ERS_NATIVE_CACHE")
    if path is None:
        path = os.path.join(tempfile.gettempdir(), f"ers-native-{os.getuid()}")
        try:
            os.mkdir(path, 0o700)
        except FileExistsError:
            pass
        except OSError:
            return None
    return path if _private(path, stat.S_ISDIR) else None


def load_kernel(stem: str, source: str, cflags: list[str]) -> ctypes.CDLL | None:
    """Compile ``source`` with the system cc (once per host) and load it;
    None when there is no private cache, no toolchain, or loading fails."""
    directory = cache_dir()
    if directory is None:
        return None
    digest = hashlib.sha256(source.encode()).hexdigest()[:16]
    so_path = os.path.join(directory, f"{stem}_{digest}.so")
    if not _private(so_path, stat.S_ISREG):
        # build into a per-process name, then atomically publish: racing
        # workers all rename to the same content-addressed path
        tmp = f"{so_path}.{os.getpid()}.tmp"
        cc = os.environ.get("CC", "cc")
        try:
            subprocess.run(
                [cc, *cflags, "-shared", "-fPIC", "-o", tmp, "-x", "c", "-"],
                input=source.encode(),
                check=True,
                capture_output=True,
                timeout=120,
            )
            os.chmod(tmp, 0o755)
            os.replace(tmp, so_path)
        except (OSError, subprocess.SubprocessError):
            with contextlib.suppress(OSError):
                os.unlink(tmp)
            return None
        if not _private(so_path, stat.S_ISREG):
            return None
    try:
        return ctypes.CDLL(so_path)
    except OSError:
        return None
