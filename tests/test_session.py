"""The package zip that ``session.ensure_py_files`` ships to every Python
worker comes only from a directory no other user can write to."""

import os
import stat
import zipfile

import pytest

from entity_resolution_spark import session


@pytest.fixture
def ship(monkeypatch):
    """Calls ensure_py_files on a stub session; returns the paths handed
    to addPyFile so far."""
    shipped = []

    class _Context:
        addPyFile = staticmethod(shipped.append)

    class _Session:
        sparkContext = _Context()

    def call():
        monkeypatch.setattr(session, "_PYFILES_SHIPPED", set())
        session.ensure_py_files(_Session())
        return shipped

    return call


def _is_package_zip(path):
    with zipfile.ZipFile(path) as zf:
        return "entity_resolution_spark/session.py" in zf.namelist()


def test_planted_zip_in_world_writable_cache_is_not_shipped(tmp_path, monkeypatch, ship):
    shared = tmp_path / "shared"
    shared.mkdir()
    shared.chmod(0o777)
    monkeypatch.setenv("ERS_NATIVE_CACHE", str(shared))
    monkeypatch.setenv("TMPDIR", str(shared))
    monkeypatch.setattr("tempfile.tempdir", None)
    name = os.path.basename(ship()[0])
    planted = shared / name
    planted.write_bytes(b"planted")
    planted.chmod(0o666)

    path = ship()[-1]
    assert path != str(planted)
    assert _is_package_zip(path)
    st = os.lstat(os.path.dirname(path))
    assert st.st_uid == os.getuid() and stat.S_IMODE(st.st_mode) == 0o700


def test_writable_zip_in_private_cache_is_rebuilt(tmp_path, monkeypatch, ship):
    cache = tmp_path / "private"
    cache.mkdir(mode=0o700)
    monkeypatch.setenv("ERS_NATIVE_CACHE", str(cache))
    path = ship()[0]
    assert os.path.dirname(path) == str(cache)
    with open(path, "wb") as fh:
        fh.write(b"planted")
    os.chmod(path, 0o666)

    assert ship()[-1] == path
    assert _is_package_zip(path)
    assert not os.lstat(path).st_mode & (stat.S_IWGRP | stat.S_IWOTH)
