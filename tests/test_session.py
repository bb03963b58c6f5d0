"""The Python-worker import-cache fix (``session.lazy_zip_invalidation``):
unchanged zip archives are not re-read on ``importlib.invalidate_caches()``,
changed ones are, and only Spark workers on CPython < 3.13 get the patch."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from ballet_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport invalidation is lazy upstream"
)


@pytest.fixture
def lazy(monkeypatch):
    """Install the patch for one test; monkeypatch restores the eager
    method and the stamp registry afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(session, "_READ_STAMPS", {})
    assert session.lazy_zip_invalidation()


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    seen = []
    orig = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _zip_on_path(tmp_path, monkeypatch, modules):
    """A zip of ``{module: dir inside the archive}``, every dir on sys.path."""
    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as z:
        for name, sub in modules.items():
            z.writestr(f"{sub}{name}.py", f"NAME = {name!r}\n")
    for sub in sorted(set(modules.values())):
        monkeypatch.syspath_prepend(os.path.join(path, sub).rstrip("/"))
    for name in modules:
        monkeypatch.delitem(sys.modules, name, raising=False)
    return path


@needs_eager_zipimport
def test_unchanged_zip_is_not_reread(lazy, reads, tmp_path, monkeypatch):
    path = _zip_on_path(tmp_path, monkeypatch, {"zlazy_a": ""})
    assert importlib.import_module("zlazy_a").NAME == "zlazy_a"
    assert isinstance(sys.path_importer_cache[path], zipimport.zipimporter)
    n_import = reads.count(path)
    importlib.invalidate_caches()  # the first one reads and stamps
    assert reads.count(path) == n_import + 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(path) == n_import + 1


@needs_eager_zipimport
def test_zip_rewritten_in_place_is_reread(lazy, reads, tmp_path, monkeypatch):
    """Two importers of one archive (its root and a sub-directory): a
    rewrite is read once and both see the modules it adds."""
    path = _zip_on_path(tmp_path, monkeypatch, {"zlazy_b": "", "zlazy_s": "sub/"})
    importlib.import_module("zlazy_b")
    importlib.import_module("zlazy_s")
    importlib.invalidate_caches()
    before = reads.count(path)
    ino = os.stat(path).st_ino
    with zipfile.ZipFile(path, "a") as z:
        z.writestr("zlazy_c.py", "NAME = 'zlazy_c'\n")
        z.writestr("sub/zlazy_t.py", "NAME = 'zlazy_t'\n")
    for name in ("zlazy_c", "zlazy_t"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert os.stat(path).st_ino == ino
    importlib.invalidate_caches()
    assert reads.count(path) == before + 1
    assert importlib.import_module("zlazy_c").NAME == "zlazy_c"
    assert importlib.import_module("zlazy_t").NAME == "zlazy_t"


@needs_eager_zipimport
def test_second_install_is_a_no_op(lazy):
    patched = zipimport.zipimporter.invalidate_caches
    assert session.lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is patched


def test_python_313_is_left_unpatched(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    eager = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not session.lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is eager


def test_driver_import_leaves_zipimport_unpatched():
    """Importing the package outside a Spark worker changes nothing."""
    out = subprocess.run(
        [sys.executable, "-c",
         "import zipimport, ballet_spark; "
         "print(zipimport.zipimporter.invalidate_caches.__module__)"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "zipimport"


def test_spark_worker_importing_package_is_patched(spark):
    def kernel(batches):
        import zipimport

        import ballet_spark  # noqa: F401

        for _ in batches:
            pass
        m = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"module": [m.__module__]})

    got = {
        r["module"]
        for r in spark.range(4, numPartitions=4)
        .mapInPandas(kernel, "module string")
        .collect()
    }
    want = "zipimport" if sys.version_info >= (3, 13) else "ballet_spark.session"
    assert got == {want}
