"""The ``--py-files`` zip ships the package source as it is."""

from __future__ import annotations

import importlib.util
import os
import zipfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_make_pyfiles():
    path = os.path.join(_REPO, "jobs", "make_pyfiles.py")
    spec = importlib.util.spec_from_file_location("make_pyfiles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_pyfiles_zip_ships_exactly_the_package_sources(tmp_path):
    out = _load_make_pyfiles().build(str(tmp_path / "pkg.zip"))
    want = {}
    for root, _dirs, files in os.walk(os.path.join(_REPO, "product_deduplication_spark")):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                with open(full, "rb") as f:
                    want[os.path.relpath(full, _REPO)] = f.read()
    with zipfile.ZipFile(out) as z:
        got = {name: z.read(name) for name in z.namelist()}
    assert "product_deduplication_spark/__init__.py" in got
    assert got == want
