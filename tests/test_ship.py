"""Self-shipping (operators/ship.py): the py-files zip a checkout
registers must hold that checkout's code, whatever the file times."""

import importlib.util
import os
import shutil
import tempfile
import time
import zipfile

import dashing_spark

PKG = os.path.dirname(os.path.abspath(dashing_spark.__file__))


def _zip_of(pkg_dir: str) -> str:
    """package_zip_path() as run from the package copy at ``pkg_dir``."""
    spec = importlib.util.spec_from_file_location(
        f"_ship_{os.path.basename(os.path.dirname(pkg_dir))}",
        os.path.join(pkg_dir, "operators", "ship.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.package_zip_path()


def test_each_checkout_ships_its_own_code(tmp_path, monkeypatch):
    tmp_dir = tmp_path / "tmp"
    tmp_dir.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_dir))
    zips = {}
    # the second copy's sources are a day OLDER than the first's zip
    for name, age in (("a", 0), ("b", 86400)):
        pkg = tmp_path / name / "dashing_spark"
        shutil.copytree(PKG, pkg, ignore=shutil.ignore_patterns("__pycache__"))
        (pkg / "_marker.py").write_text(f"CHECKOUT = {name!r}\n")
        if age:
            past = time.time() - age
            for root, _, files in os.walk(pkg):
                for f in files:
                    os.utime(os.path.join(root, f), (past, past))
        zips[name] = _zip_of(str(pkg))
    for name, path in zips.items():
        with zipfile.ZipFile(path) as z:
            marker = z.read("dashing_spark/_marker.py").decode()
        assert marker == f"CHECKOUT = {name!r}\n"
    # identical code reuses its zip; no tmp file is left behind
    assert _zip_of(str(tmp_path / "a" / "dashing_spark")) == zips["a"]
    assert not [f for f in os.listdir(tmp_dir) if f.endswith(".tmp")]
