"""The worker daemon entry (``kinesis2elastic_spark.worker_daemon``): the
zip-directory guard in-process, inside a live worker, and a session built
from a cwd that does not hold the package; and the package zip that
``session.ship_package`` sends to workers."""

import importlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kinesis2elastic_spark import session, worker_daemon
from kinesis2elastic_spark.session import DAEMON_MODULE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EAGER_ZIP_INVALIDATION = sys.version_info < (3, 13)


def _write_zip(path, members: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pytest.mark.skipif(not EAGER_ZIP_INVALIDATION, reason="CPython >= 3.13 invalidates zips lazily")
def test_guard_skips_unchanged_zip_and_rereads_rewritten(tmp_path, monkeypatch):
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"k2e_guarded/__init__.py": "", "k2e_guarded/a.py": "A = 1\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_if_changed)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("k2e_guarded.a").A == 1
        importlib.invalidate_caches()  # no read recorded yet: one honest read
        assert len(reads) == 2  # the importer's own read, then that one
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == 2  # unchanged archive: never re-read

        _write_zip(archive, {
            "k2e_guarded/__init__.py": "",
            "k2e_guarded/a.py": "A = 1\n",
            "k2e_guarded/b.py": "B = 2\n",
        })
        importlib.invalidate_caches()
        assert len(reads) == 3  # rewritten archive: one read, shared by its importers
        assert importlib.import_module("k2e_guarded.b").B == 2
    finally:
        for name in ("k2e_guarded", "k2e_guarded.a", "k2e_guarded.b"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)
        worker_daemon._last_read.pop(archive, None)


def test_session_workers_run_the_guard(spark):
    """From inside a worker: the guard is what ``zipimporter`` runs (on
    CPython < 3.13).  Task start never re-reads ``pyspark.zip`` (the daemon
    read it before forking); an archive first imported during the task is
    read once at the next invalidation, and after that nothing is."""
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON_MODULE

    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import importlib as il
        import zipimport as zi

        reads = [[], []]
        real = zi._read_directory
        try:
            for calls in reads:
                zi._read_directory = lambda p, calls=calls: calls.append(p) or real(p)
                il.invalidate_caches()
        finally:
            zi._read_directory = real
        method = zi.zipimporter.invalidate_caches
        report = {
            "guarded": method.__code__.co_filename.endswith("worker_daemon.py")
            and method.__name__ == "_invalidate_if_changed",
            "reads": reads,
            "zips": [f.archive for f in sys.path_importer_cache.values() if isinstance(f, zi.zipimporter)],
        }
        return s.map(lambda _: json.dumps(report))

    rows = spark.range(8).repartition(4).select(probe(F.col("id").cast("string")).alias("r")).collect()
    reports = [json.loads(r.r) for r in rows]
    assert len(reports) == 8
    for rep in reports:
        assert any(z.endswith("pyspark.zip") for z in rep["zips"]), rep
        assert rep["guarded"] == EAGER_ZIP_INVALIDATION
        if EAGER_ZIP_INVALIDATION:
            first, second = rep["reads"]
            assert not any(p.endswith("pyspark.zip") for p in first), rep
            assert len(first) == len(set(first)) and second == [], rep


def test_get_spark_from_another_cwd(tmp_path):
    """A driver started outside the repo, with the package only on its
    ``sys.path``: the daemon still imports, and both a pandas UDF and an
    RDD ``map`` of a package function (pickled by reference) run."""
    script = f"""
import json, sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import functions as F
from kinesis2elastic_spark.functions.gzip_udf import gunzip_text, gzip_bytes
from kinesis2elastic_spark.schemas import sql_ident
from kinesis2elastic_spark.session import get_spark

spark = get_spark("k2e-other-cwd", cpus=2)
df = spark.createDataFrame([("alpha",), ("beta",)], "s string")
udf_rows = sorted(r.t for r in df.select(gunzip_text(gzip_bytes("s")).alias("t")).collect())
rdd_rows = spark.sparkContext.parallelize(["a", "b`c"], 2).map(sql_ident).collect()
conf = spark.sparkContext.getConf()
print(json.dumps({{
    "udf": udf_rows,
    "rdd": rdd_rows,
    "daemon": conf.get("spark.python.daemon.module"),
    "pythonpath": conf.get("spark.executorEnv.PYTHONPATH"),
}}))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["udf"] == ["alpha", "beta"]
    assert out["rdd"] == ["`a`", "`b``c`"]
    assert out["daemon"] == DAEMON_MODULE
    assert out["pythonpath"].split(os.pathsep)[0] == REPO


def _tree_sources(pkg_root: str) -> dict:
    """``{zip member name: bytes}`` of every ``.py`` file under ``pkg_root``."""
    out = {}
    for dirpath, _dirnames, filenames in os.walk(pkg_root):
        for fn in filenames:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as f:
                    out[os.path.join("kinesis2elastic_spark", os.path.relpath(full, pkg_root))] = f.read()
    return out


def _zip_members(path: str) -> dict:
    with zipfile.ZipFile(path) as zf:
        return {name: zf.read(name) for name in zf.namelist()}


def test_package_zip_matches_the_source_tree(tmp_path, monkeypatch):
    """A zip of an older tree at the old fixed path is not shipped: the
    zip chosen holds exactly the tree's ``.py`` files, byte for byte, and
    an edited tree gets a zip of its own."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stale = tmp_path / "kinesis2elastic_spark_pkg.zip"
    _write_zip(stale, {
        "kinesis2elastic_spark/__init__.py": "",
        "kinesis2elastic_spark/operators/decode.py": "raise ImportError('an older tree')\n",
    })
    pkg_root = os.path.dirname(os.path.abspath(session.__file__))
    path = session.package_zip()
    assert os.path.dirname(path) == str(tmp_path) and path != str(stale)
    shipped = _zip_members(path)
    assert shipped == _tree_sources(pkg_root)
    assert "kinesis2elastic_spark/worker_daemon.py" in shipped
    assert session.package_zip() == path

    copy = tmp_path / "copy" / "kinesis2elastic_spark"
    shutil.copytree(pkg_root, copy, ignore=shutil.ignore_patterns("__pycache__"))
    with open(copy / "operators" / "decode.py", "a") as f:
        f.write("# edited\n")
    monkeypatch.setattr(session, "__file__", str(copy / "session.py"))
    edited = session.package_zip()
    assert edited != path
    assert _zip_members(edited) == _tree_sources(str(copy))
