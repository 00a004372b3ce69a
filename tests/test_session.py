"""Session set-up: the Python worker warm-up and the zip re-read guard."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from cdrc_semantic_search_spark import session


@pytest.fixture
def guarded(monkeypatch):
    """Install the guard on this process, undone after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(session, "_zip_reads", {})
    session.guard_zip_reloads()
    return zipimport.zipimporter.invalidate_caches


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _load(importer, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} not found in {importer.archive}"
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_guard_is_idempotent(guarded):
    session.guard_zip_reloads()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_unchanged_archive_is_not_reread(guarded, tmp_path):
    archive = tmp_path / "pkg.zip"
    _write_zip(archive, {"a_mod": "VALUE = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    imp.invalidate_caches()  # first call after install reads and records
    files = imp._files
    imp.invalidate_caches()
    assert imp._files is files
    # a second importer over the same archive shares the recorded read
    other = zipimport.zipimporter(str(archive))
    other.invalidate_caches()
    assert other._files is files
    assert _load(imp, "a_mod").VALUE == 1


def test_rewritten_archive_is_reread(guarded, tmp_path):
    archive = tmp_path / "pkg.zip"
    _write_zip(archive, {"a_mod": "VALUE = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    imp.invalidate_caches()
    assert imp.find_spec("b_mod") is None
    _write_zip(archive, {"a_mod": "VALUE = 1\n", "b_mod": "VALUE = 2\n"})
    imp.invalidate_caches()
    assert _load(imp, "b_mod").VALUE == 2


def test_missing_archive_takes_original_path(guarded, tmp_path):
    archive = tmp_path / "pkg.zip"
    _write_zip(archive, {"a_mod": "VALUE = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    imp.invalidate_caches()
    os.remove(archive)
    imp.invalidate_caches()
    assert imp._files == {}
    assert str(archive) not in session._zip_reads


# a fresh session in its own process: no Python stage has run there before
# get_spark's warm-up, so whatever the probe finds, the warm-up put there
_WARMUP_PROBE = """
import json
import pyarrow as pa
from cdrc_semantic_search_spark import session

spark = session.get_spark(app_name="warmup-probe", parallelism=2, shuffle_partitions=2)
session._WARMING[spark.sparkContext.applicationId].join()


def probe(batches):
    import sys
    import zipimport

    guard = zipimport.zipimporter.invalidate_caches
    found = {
        "numpy": "numpy" in sys.modules,
        "pyarrow": "pyarrow" in sys.modules,
        "pandas": "pandas" in sys.modules,
        "package": "cdrc_semantic_search_spark" in sys.modules,
        "guard": getattr(guard, "_reloads_only_changed", False),
    }
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pylist([found])


schema = ", ".join(f"{k} boolean" for k in ("numpy", "pyarrow", "pandas", "package", "guard"))
(row,) = spark.range(1, numPartitions=1).mapInArrow(probe, schema).collect()
print(json.dumps(row.asDict()))
spark.stop()
"""


def test_warmup_reaches_arrow_workers(tmp_path):
    """Once get_spark's warm-up is done, an Arrow task of a fresh session
    lands on a worker that already holds numpy, pyarrow, pandas, the package
    and the installed guard."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")])),
        SPARK_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", _WARMUP_PROBE],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    found = json.loads(out.stdout.strip().splitlines()[-1])
    assert found == {
        "numpy": True, "pyarrow": True, "pandas": True, "package": True, "guard": True
    }
