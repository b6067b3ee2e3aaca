"""zipimporter invalidation skips unchanged archives (dce_spark._importcache).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; these tests count ``zipimport._read_directory`` calls rather than
timing them.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

from dce_spark import _importcache
from tools.make_pyfiles import build


def _unique(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:10]}"


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def read_counter(monkeypatch):
    """Archive paths passed to zipimport._read_directory while active."""
    reads: list[str] = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch, read_counter):
    mod = _unique("dce_ic_a")
    archive = tmp_path / "a.zip"
    _write_zip(archive, {mod: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module(mod).VALUE == 1
    importlib.invalidate_caches()  # first call on the importer reads
    assert str(archive) in read_counter
    read_counter.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(archive) not in read_counter


@pytest.mark.parametrize("hooked", [True, False])
def test_rewritten_zip_is_reread(tmp_path, monkeypatch, hooked):
    if not hooked:
        monkeypatch.setattr(
            zipimport.zipimporter, "invalidate_caches",
            zipimport.zipimporter.invalidate_caches.__wrapped__,
        )
    old, new = _unique("dce_ic_old"), _unique("dce_ic_new")
    archive = tmp_path / "b.zip"
    _write_zip(archive, {old: "VALUE = 'old'\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module(old).VALUE == "old"
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module(new)
    _write_zip(archive, {old: "VALUE = 'old'\n", new: "VALUE = 'new'\n"})
    importlib.invalidate_caches()
    assert importlib.import_module(new).VALUE == "new"


def test_install_is_idempotent():
    _importcache.install()
    _importcache.install()
    wrapper = zipimport.zipimporter.invalidate_caches
    assert wrapper._dce_skip_unchanged
    assert not hasattr(wrapper.__wrapped__, "_dce_skip_unchanged")


_PYFILES_PROBE = """
import importlib, json, sys, zipimport
import dce_spark
zipped = sys.argv[1]
reads = []
original = zipimport._read_directory
zipimport._read_directory = lambda p: reads.append(p) or original(p)
importlib.invalidate_caches()
first = reads.count(zipped)
del reads[:]
importlib.invalidate_caches()
importlib.invalidate_caches()
print(json.dumps({
    "file": dce_spark.__file__,
    "hooked": getattr(zipimport.zipimporter.invalidate_caches,
                      "_dce_skip_unchanged", False),
    "first": first,
    "later": reads.count(zipped),
}))
"""


def test_pyfiles_artifact_installs_hook(tmp_path):
    """The --py-files deployment: dce_spark importable only from the zip."""
    zipped = tmp_path / "dce_spark.zip"
    build(str(zipped))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = str(zipped)
    run = subprocess.run(
        [sys.executable, "-c", _PYFILES_PROBE, str(zipped)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert run.returncode == 0, run.stderr
    out = json.loads(run.stdout.strip().splitlines()[-1])
    assert out["file"].startswith(str(zipped))
    assert out["hooked"]
    assert out["first"] > 0  # one importer per dce_spark package read once
    assert out["later"] == 0


@pytest.mark.spark
def test_reused_worker_skips_unchanged_archives(spark):
    from dce_spark.spark.udf import extract_batches

    sc = spark.sparkContext

    def kernel(rows):
        import pyarrow as pa

        batch = pa.RecordBatch.from_pydict({"url": ["u"], "html": [b"<p>x</p>"]})
        list(extract_batches(iter([batch])))
        yield os.getpid()

    kernel_pids = set(sc.parallelize(range(4), 4).mapPartitions(kernel).collect())

    def probe(rows):
        reads = []
        original = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or original(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        yield os.getpid(), n_zip, len(reads)

    probes = sc.parallelize(range(4), 4).mapPartitions(probe).collect()
    # the task's own per-task call already ran the hook on a worker the
    # kernel imported dce_spark into; a fresh worker would read once
    reused = [p for p in probes if p[0] in kernel_pids]
    assert reused, (kernel_pids, probes)
    for _, n_zip, reads in reused:
        assert n_zip > 0
        assert reads == 0


@pytest.mark.spark
def test_add_py_file_mid_session_is_importable(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize(range(4), 4).map(lambda _: __import__("dce_spark").__version__).collect()
    py_mod, zip_mod = _unique("dce_addpy"), _unique("dce_addzip")
    (tmp_path / f"{py_mod}.py").write_text("VALUE = 'py'\n")
    _write_zip(tmp_path / f"{zip_mod}.zip", {zip_mod: "VALUE = 'zip'\n"})
    sc.addPyFile(str(tmp_path / f"{py_mod}.py"))
    sc.addPyFile(str(tmp_path / f"{zip_mod}.zip"))

    def probe(rows):
        yield (importlib.import_module(py_mod).VALUE,
               importlib.import_module(zip_mod).VALUE)

    got = set(sc.parallelize(range(4), 4).mapPartitions(probe).collect())
    assert got == {("py", "zip")}
