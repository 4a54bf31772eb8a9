"""The optional C kernels load only from a private cache directory
(functions/_native_build.py)."""

import ctypes
import hashlib
import os
import shutil
import stat

import pytest

from entity_resolution_spark.functions import _lcs_native


def _predicted_so(cache: str) -> str:
    digest = hashlib.sha256(_lcs_native._C_SOURCE.encode()).hexdigest()[:16]
    return os.path.join(cache, f"ers_lcs_{digest}.so")


@pytest.fixture
def loads(monkeypatch):
    """Paths handed to ctypes.CDLL while the test runs."""
    seen = []
    real = ctypes.CDLL

    def recording(path, *a, **kw):
        seen.append(path)
        return real(path, *a, **kw)

    monkeypatch.setattr(ctypes, "CDLL", recording)
    return seen


def test_planted_so_in_world_writable_cache_is_not_loaded(tmp_path, monkeypatch, loads):
    cache = tmp_path / "shared"
    cache.mkdir()
    cache.chmod(0o777)
    planted = _predicted_so(str(cache))
    with open(planted, "wb") as fh:
        fh.write(b"not a library")
    monkeypatch.setenv("ERS_NATIVE_CACHE", str(cache))

    assert _lcs_native._build() is None
    assert planted not in loads


@pytest.mark.skipif(shutil.which(os.environ.get("CC", "cc")) is None, reason="no C compiler")
def test_writable_so_in_private_cache_is_rebuilt_before_loading(tmp_path, monkeypatch, loads):
    cache = tmp_path / "private"
    cache.mkdir(mode=0o755)
    so_path = _predicted_so(str(cache))
    with open(so_path, "wb") as fh:
        fh.write(b"not a library")
    os.chmod(so_path, 0o666)
    monkeypatch.setenv("ERS_NATIVE_CACHE", str(cache))

    assert _lcs_native._build() is not None
    assert not os.lstat(so_path).st_mode & (stat.S_IWGRP | stat.S_IWOTH)
    with open(so_path, "rb") as fh:
        assert fh.read(4) == b"\x7fELF"
    assert loads == [so_path]


def test_default_cache_is_a_private_per_user_dir(tmp_path, monkeypatch):
    monkeypatch.delenv("ERS_NATIVE_CACHE", raising=False)
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr("tempfile.tempdir", None)
    from entity_resolution_spark.functions._native_build import cache_dir

    path = cache_dir()
    assert path == os.path.join(str(tmp_path), f"ers-native-{os.getuid()}")
    st = os.lstat(path)
    assert stat.S_ISDIR(st.st_mode) and stat.S_IMODE(st.st_mode) == 0o700


def test_symlinked_default_cache_is_refused(tmp_path, monkeypatch):
    target = tmp_path / "elsewhere"
    target.mkdir(mode=0o700)
    os.symlink(target, tmp_path / f"ers-native-{os.getuid()}")
    monkeypatch.delenv("ERS_NATIVE_CACHE", raising=False)
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr("tempfile.tempdir", None)
    from entity_resolution_spark.functions._native_build import cache_dir

    assert cache_dir() is None
