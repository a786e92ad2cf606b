"""The worker zip of ``__spark_entry__``: named by the md5 of the
package's ``.py`` paths and bytes, so a zip built from another tree is
never reused for this one. No Spark session needed."""

import os
import zipfile

import __spark_entry__ as entry

PKG = "readability_scanner_spark"


def _tree(root, init_text: str) -> str:
    os.makedirs(root / PKG / "sub")
    (root / PKG / "__init__.py").write_text(init_text)
    (root / PKG / "sub" / "mod.py").write_text("X = 1\n")
    (root / PKG / "sub" / "notes.txt").write_text("not shipped\n")
    return str(root)


def test_zip_is_keyed_by_package_content(tmp_path, monkeypatch):
    zips = tmp_path / "tmp"
    zips.mkdir()
    monkeypatch.setattr(entry, "_ZIP_DIR", str(zips))
    a = _tree(tmp_path / "a", "A = 0\n")
    b = _tree(tmp_path / "b", "A = 1\n")  # one byte differs

    zip_a, zip_b = entry._package_zip(a), entry._package_zip(b)
    assert zip_a != zip_b
    assert os.path.dirname(zip_a) == str(zips)
    with zipfile.ZipFile(zip_a) as zf:
        assert sorted(zf.namelist()) == [f"{PKG}/__init__.py", f"{PKG}/sub/mod.py"]
        assert zf.read(f"{PKG}/__init__.py") == b"A = 0\n"

    stat = os.stat(zip_a)
    assert entry._package_zip(a) == zip_a  # same tree: reused, not rewritten
    again = os.stat(zip_a)
    assert (again.st_ino, again.st_mtime_ns) == (stat.st_ino, stat.st_mtime_ns)
    assert sorted(os.listdir(zips)) == sorted(os.path.basename(z) for z in (zip_a, zip_b))
