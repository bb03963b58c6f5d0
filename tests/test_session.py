"""The Python-worker import-cache fix (``session.lazy_zip_invalidation``):
unchanged zip archives are not re-read on ``importlib.invalidate_caches()``,
changed ones are, and only Spark workers on CPython < 3.13 get the patch.

Driver-built frames (``session.local_frame``): every one in the package
is built through Arrow, never a pickled PythonRDD, whatever the Arrow
conf says."""

import ast
import glob
import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

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


# ---------------------------------------------------------------------------
# local_frame: driver-built frames through Arrow
# ---------------------------------------------------------------------------

ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(params=["true", "false"], ids=["arrow_on", "arrow_off"])
def arrow_conf(spark, request):
    old = spark.conf.get(ARROW_CONF)
    spark.conf.set(ARROW_CONF, request.param)
    yield request.param
    spark.conf.set(ARROW_CONF, old)


def _python_rdd(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


MIXED = (
    "s string, i int, l long, d double, b boolean, a array<long>, "
    "m map<string,int>"
)


def test_local_frame_matches_list_rows(spark, arrow_conf):
    rows = [
        ("x", 1, 2**40, 0.5, True, [1, 2], {"k": 1}),
        (None, None, None, None, None, None, None),
        ("ü", -3, -(2**62), float("nan"), False, [], {}),
    ]
    got = session.local_frame(spark, rows, MIXED)
    assert not _python_rdd(got)
    exp = spark.createDataFrame(rows, MIXED)
    assert got.schema == exp.schema
    # NaN != NaN: compare the rows' string forms
    assert [str(r) for r in got.collect()] == [str(r) for r in exp.collect()]


def test_local_frame_takes_pandas(spark, arrow_conf):
    pdf = pd.DataFrame({"a": np.array([1, 2], dtype=np.int32), "b": ["x", None]})
    got = session.local_frame(spark, pdf, "a int, b string")
    assert not _python_rdd(got)
    assert [tuple(r) for r in got.collect()] == [(1, "x"), (2, None)]


@pytest.mark.parametrize("empty", [[], pd.DataFrame({"a": [], "b": []})],
                         ids=["list", "pandas"])
def test_local_frame_empty_keeps_schema(spark, arrow_conf, empty):
    got = session.local_frame(spark, empty, "a array<long>, b string")
    assert got.schema == DataType.fromDDL("a array<long>, b string")
    assert got.count() == 0
    assert not _python_rdd(got)


def _corpus(spark, n=24, dim=8, seed=3):
    rng = np.random.default_rng(seed)
    rows = [(i, rng.standard_normal(dim).tolist()) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _docs(spark):
    rows = [
        (i, f"the quick brown fox {i % 5} jumps over the lazy dog", i % 2)
        for i in range(20)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, label int")


def _site_materialize(spark, tmp_path):
    from ballet_spark.core import Feature
    from ballet_spark.functions.text import char_count
    from ballet_spark.operators.base import SparkFunctionTransformer
    from ballet_spark.plans.materialize import materialize

    src = spark.createDataFrame(
        [(f"u{i % 5}", i, f"text {i}") for i in range(20)],
        "url string, warc_ts long, text string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    feats = [Feature("text", SparkFunctionTransformer(char_count), output="n")]
    materialize(
        spark, src, feats, str(tmp_path / "m"), str(tmp_path / "l"), "s",
        n_units=2, feature_lineage_path=str(tmp_path / "fl"),
    )


def _site_components(spark, tmp_path):
    from ballet_spark.operators.components import connected_components

    pairs = spark.createDataFrame([(1, 2), (3, 2)], "id_a long, id_b long")
    connected_components(pairs).collect()


def _site_topk_empty(spark, tmp_path):
    from ballet_spark.operators.similarity import cosine_topk

    corpus = _corpus(spark)
    cosine_topk(corpus, corpus.limit(0), k=2).collect()


def _site_ivf_empty(spark, tmp_path):
    from ballet_spark.operators.similarity import ivf_topk

    corpus = _corpus(spark)
    ivf_topk(corpus, corpus.limit(0), np.zeros((2, 8)), k=2).collect()


def _site_ivf_probes(spark, tmp_path):
    from ballet_spark.operators.similarity import ivf_topk

    corpus = _corpus(spark)
    cents = np.random.default_rng(0).standard_normal((3, 8))
    ivf_topk(corpus, corpus.limit(3), cents, k=2, n_probe=2).collect()


def _site_skew_report(spark, tmp_path):
    from ballet_spark.plans.skew import skew_report

    skew_report(spark.range(10).withColumn("url", F.col("id") % 3)).collect()


def _site_lsh_index(spark, tmp_path):
    from ballet_spark.operators.dedup import minhash_lsh_index, release_caches

    minhash_lsh_index(_docs(spark)).buckets.collect()
    release_caches("dedup")


def _site_lm(spark, tmp_path):
    from ballet_spark.functions.lm import fit_char_bigram_lm

    fit_char_bigram_lm(_docs(spark)).collect()


def _site_classifier(spark, tmp_path):
    from ballet_spark.functions.classifier import fit_nb_tokens

    fit_nb_tokens(_docs(spark), "label", n_buckets=16).collect()


def _entry_site(name):
    def run(spark, tmp_path):
        import __spark_entry__ as entry

        if not os.path.isdir(SF_DIR):
            pytest.skip(f"{SF_DIR} absent")
        getattr(entry, name)(spark, SF_DIR).collect()

    return run


# (module whose ``local_frame`` the site calls, how to reach it, frames
# the site builds)
SITES = {
    "materialize": ("ballet_spark.plans.materialize", _site_materialize, 2),
    "components": ("ballet_spark.operators.components", _site_components, 1),
    "cosine_topk_empty": ("ballet_spark.operators.similarity", _site_topk_empty, 1),
    "ivf_topk_empty": ("ballet_spark.operators.similarity", _site_ivf_empty, 1),
    "ivf_topk_probes": ("ballet_spark.operators.similarity", _site_ivf_probes, 1),
    "skew_report": ("ballet_spark.plans.skew", _site_skew_report, 1),
    "minhash_lsh_index": ("ballet_spark.operators.dedup", _site_lsh_index, 2),
    "char_bigram_lm": ("ballet_spark.functions.lm", _site_lm, 1),
    "nb_tokens": ("ballet_spark.functions.classifier", _site_classifier, 1),
    "entry.incremental_exact_dedup": (
        "ballet_spark.session", _entry_site("incremental_exact_dedup"), 1
    ),
    "entry.discrete_mutual_information": (
        "ballet_spark.session", _entry_site("discrete_mutual_information"), 1
    ),
    "entry.gfssf_select_docs": (
        "ballet_spark.session", _entry_site("gfssf_select_docs"), 1
    ),
}


@pytest.mark.parametrize("site", sorted(SITES))
def test_driver_built_frames_skip_python_rdd(spark, arrow_conf, site, tmp_path,
                                             monkeypatch):
    """Each call site's frame is built through Arrow with the conf on or
    off (``__spark_entry__`` imports ``local_frame`` at call time, so its
    sites are recorded on the session module)."""
    module, run, n_frames = SITES[site]
    built, local_frame = [], session.local_frame

    def recording(spark, rows, schema):
        df = local_frame(spark, rows, schema)
        built.append(df)
        return df

    monkeypatch.setattr(importlib.import_module(module), "local_frame", recording)
    run(spark, tmp_path)
    assert len(built) == n_frames
    for df in built:
        assert not _python_rdd(df), site


def test_create_data_frame_only_in_local_frame():
    """Every driver-built frame goes through ``session.local_frame``: a
    ``createDataFrame(`` anywhere else in the package (or the entry
    module) would bring back the pickled PythonRDD path."""
    files = sorted(glob.glob(os.path.join(ROOT, "ballet_spark", "**", "*.py"),
                             recursive=True))
    files.append(os.path.join(ROOT, "__spark_entry__.py"))
    tree = ast.parse(open(session.__file__).read())
    (fn,) = [
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    ]
    allowed = (os.path.realpath(session.__file__), fn.lineno, fn.end_lineno)
    offenders = []
    for path in files:
        for i, line in enumerate(open(path).read().splitlines(), 1):
            if "createDataFrame(" not in line:
                continue
            real = os.path.realpath(path)
            if real == allowed[0] and allowed[1] <= i <= allowed[2]:
                continue
            offenders.append(f"{os.path.relpath(path, ROOT)}:{i}")
    assert not offenders, offenders
