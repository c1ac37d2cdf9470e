"""The executor package zip (session._package_zip): named by the tree's
contents, so sessions shipping different trees never share a file, and
byte-reproducible for one tree. No Spark session needed."""

from __future__ import annotations

import os
import pathlib
import zipfile

from fuggetabouspark.session import _package_zip


def _tree(root, body: str):
    (root / "sub").mkdir(parents=True)
    (root / "__init__.py").write_text("")
    (root / "sub" / "mod.py").write_text(body)
    (root / "notes.txt").write_text("not shipped")
    return root


def test_different_trees_get_different_zips(tmp_path):
    a = _tree(tmp_path / "a", "X = 1\n")
    b = _tree(tmp_path / "b", "X = 2\n")
    out = tmp_path / "out"
    out.mkdir()
    za, zb = _package_zip(a, str(out)), _package_zip(b, str(out))
    assert za != zb
    with zipfile.ZipFile(za) as z:
        assert z.namelist() == ["fuggetabouspark/__init__.py", "fuggetabouspark/sub/mod.py"]
        assert z.read("fuggetabouspark/sub/mod.py") == b"X = 1\n"
    with zipfile.ZipFile(zb) as z:
        assert z.read("fuggetabouspark/sub/mod.py") == b"X = 2\n"


def test_same_tree_gets_same_path_and_bytes(tmp_path):
    a = _tree(tmp_path / "a", "X = 1\n")
    copy = _tree(tmp_path / "copy", "X = 1\n")
    out = tmp_path / "out"
    out.mkdir()
    first = _package_zip(a, str(out))
    data = pathlib.Path(first).read_bytes()
    os.utime(copy / "sub" / "mod.py", (0, 0))  # mtimes do not enter the zip
    os.remove(first)
    again = _package_zip(copy, str(out))
    assert again == first
    assert pathlib.Path(again).read_bytes() == data
    # the temporary file was moved into place, not left behind
    assert sorted(os.listdir(out)) == [os.path.basename(first)]
