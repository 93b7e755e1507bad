"""The package zip ``get_spark`` ships to Python workers."""

from __future__ import annotations

import os
import shutil
import zipfile

from cassandra_data_migrator_spark import session


def _copy_package(tmpdir_path):
    """A private copy of the package, so its sources can be edited."""
    root = os.path.join(tmpdir_path, "checkout")
    pkg = os.path.join(root, "cassandra_data_migrator_spark")
    shutil.copytree(session._PKG_DIR, pkg,
                    ignore=shutil.ignore_patterns("__pycache__"))
    return root, pkg


def test_package_zip_is_named_by_its_contents(tmpdir_path, monkeypatch):
    """Unchanged sources give the same path and bytes; a changed source
    gives a new path and leaves the zip a live session shipped intact
    (Spark refuses a fetch whose file changed under its name)."""
    root, pkg = _copy_package(tmpdir_path)
    monkeypatch.setattr(session, "_PKG_DIR", pkg)
    monkeypatch.setattr(session, "_REPO_ROOT", root)
    out = os.path.join(tmpdir_path, "zips")
    os.makedirs(out)

    first = session.package_zip(out_dir=out)
    with open(first, "rb") as f:
        first_bytes = f.read()
    os.unlink(first)  # a rebuild from the same sources is byte-identical
    assert session.package_zip(out_dir=out) == first
    with open(first, "rb") as f:
        assert f.read() == first_bytes

    with open(os.path.join(pkg, "config.py"), "a") as f:
        f.write("\n# edited\n")
    second = session.package_zip(out_dir=out)
    assert second != first
    with open(first, "rb") as f:
        assert f.read() == first_bytes
    with zipfile.ZipFile(second) as z:
        assert z.read("cassandra_data_migrator_spark/config.py") \
            .endswith(b"# edited\n")
    # the temp file each write goes through is gone
    assert sorted(os.listdir(out)) == sorted(
        os.path.basename(p) for p in (first, second))
