"""The python-worker zip guard (ner_ocr_spark/_pyworker.py): an unchanged
archive is not re-read by importlib.invalidate_caches(), a changed one is,
and engine python workers run with the guard installed."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from ner_ocr_spark import _pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13+ re-reads zip archives lazily; the guard is off",
)

ROOT = Path(__file__).resolve().parent.parent


def _write_zip(path: Path, files: dict[str, str]) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """(archive path, per-archive directory-read counter) with the archive
    first on sys.path; everything it imported is dropped afterwards."""
    archive = tmp_path / "guarded_mods.zip"
    _write_zip(archive, {"zg_one.py": "VALUE = 1\n",
                         "zg_pkg/__init__.py": "",
                         "zg_pkg/old.py": "VALUE = 'old'\n"})
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    sys.path.insert(0, str(archive))
    yield archive, lambda: sum(1 for p in reads if p == str(archive))
    sys.path.remove(str(archive))
    for key in [k for k in sys.path_importer_cache if k.startswith(str(archive))]:
        del sys.path_importer_cache[key]
    for mod in [m for m in sys.modules if m.startswith(("zg_one", "zg_pkg"))]:
        del sys.modules[mod]
    zipimport._zip_directory_cache.pop(str(archive), None)
    _pyworker._read.pop(str(archive), None)


def test_package_import_installs_guard():
    guarded = zipimport.zipimporter.invalidate_caches
    assert hasattr(guarded, "unguarded")
    # idempotent: a second install does not wrap the guard again
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, n_reads = zip_on_path
    import zg_one  # noqa: F401
    import zg_pkg.old  # noqa: F401 — a second importer over the archive

    importlib.invalidate_caches()  # first guarded call records the archive
    before = n_reads()
    for _ in range(5):
        importlib.invalidate_caches()
    assert n_reads() == before
    assert importlib.import_module("zg_one").VALUE == 1


def test_rewritten_archive_is_reread(zip_on_path):
    archive, n_reads = zip_on_path
    import zg_pkg.old  # noqa: F401

    importlib.invalidate_caches()
    _write_zip(archive, {"zg_one.py": "VALUE = 1\n",
                         "zg_pkg/__init__.py": "",
                         "zg_pkg/old.py": "VALUE = 'old'\n",
                         "zg_pkg/new.py": "VALUE = 'new'\n",
                         "zg_two.py": "VALUE = 2\n"})
    before = n_reads()
    importlib.invalidate_caches()
    assert n_reads() > before
    # both the top-level importer and the package-prefix importer see it
    assert importlib.import_module("zg_two").VALUE == 2
    assert importlib.import_module("zg_pkg.new").VALUE == "new"


def test_touched_archive_is_reread(zip_on_path):
    # same size, new mtime: the (mtime, size) key still changes
    archive, n_reads = zip_on_path
    import zg_one  # noqa: F401

    importlib.invalidate_caches()
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    before = n_reads()
    importlib.invalidate_caches()
    assert n_reads() == before + 1


PROBE = textwrap.dedent("""
    import sys
    sys.path.insert(0, {root!r})

    import pandas as pd

    def probe(batches):
        import zipimport
        m = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pd.DataFrame({{
            "guarded": [getattr(m, "unguarded", None) is not None],
            "engine_loaded": ["ner_ocr_spark" in sys.modules],
        }})

    def run_probe(spark):
        row = (spark.range(1, numPartitions=1)
               .mapInPandas(probe, "guarded boolean, engine_loaded boolean")
               .collect()[0])
        return row.guarded, row.engine_loaded

    from ner_ocr_spark import corpus, pipeline
    from ner_ocr_spark.session import get_spark

    spark = get_spark(app_name="pyworker-probe", master="local[1]",
                      shuffle_partitions=1,
                      extra={{"spark.driver.memory": "1g"}})
    spark.sparkContext.setLogLevel("ERROR")
    print("BEFORE", *run_probe(spark))
    docs = spark.createDataFrame(corpus.build_documents(1), {schema!r})
    # collect(), not count(): count() reads no column, so the optimizer
    # drops the NER UDF and no engine code runs in a python worker
    n = len(pipeline.extract_spans(docs).collect())
    print("SPANS", n)
    print("AFTER", *run_probe(spark))
    spark.stop()
""")


def test_engine_worker_runs_guarded():
    """A fresh python worker is unguarded; once it has run an engine stage
    (extract_spans on one document) its next task is guarded."""
    from tests.conftest import DOC_SCHEMA

    script = PROBE.format(root=str(ROOT), schema=DOC_SCHEMA.simpleString())
    p = subprocess.run([sys.executable, "-c", script], capture_output=True,
                       text=True, timeout=600, cwd=str(ROOT))
    out = dict(line.split(" ", 1) for line in p.stdout.splitlines()
               if line.startswith(("BEFORE", "SPANS", "AFTER")))
    assert p.returncode == 0, p.stderr[-3000:]
    assert out["BEFORE"] == "False False"
    assert int(out["SPANS"]) > 0
    assert out["AFTER"] == "True True"
