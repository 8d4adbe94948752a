"""The engine's Python worker daemon: zip importers re-read their archive
only when it changed, and daemon-forked workers run with that patch."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark import (
    worker_daemon,
)


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"wd_mod_a.py": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_if_changed)
    reads = []
    original = worker_daemon._reread

    def counting(importer):
        if importer.archive == archive:
            reads.append(archive)
        original(importer)

    monkeypatch.setattr(worker_daemon, "_reread", counting)
    yield archive, reads
    for name in ("wd_mod_a", "wd_mod_b"):
        sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("wd_mod_a").VALUE == "a"
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    importlib.invalidate_caches()  # first sight: read once, record the signature
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [archive]


@pytest.mark.parametrize(
    "members,mtime_step_ns",
    [
        # grows, mtime kept: only st_size tells
        ({"wd_mod_a.py": "VALUE = 'a'\n", "wd_mod_b.py": "VALUE = 'b'\n"}, 0),
        # same size, other member: only st_mtime_ns tells
        ({"wd_mod_b.py": "VALUE = 'b'\n"}, 1_000_000_000),
    ],
    ids=["size", "mtime"],
)
def test_rewritten_archive_is_reread_and_new_module_imports(zip_on_path, members, mtime_step_ns):
    archive, reads = zip_on_path
    importlib.import_module("wd_mod_a")
    importlib.invalidate_caches()
    st = os.stat(archive)
    _write_zip(archive, members)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + mtime_step_ns))
    assert (os.stat(archive).st_size == st.st_size) == bool(mtime_step_ns)
    importlib.invalidate_caches()
    assert reads == [archive, archive]
    assert importlib.import_module("wd_mod_b").VALUE == "b"
    importlib.invalidate_caches()
    assert reads == [archive, archive]


def test_missing_archive_falls_back_to_the_original(zip_on_path):
    archive, reads = zip_on_path
    importlib.import_module("wd_mod_a")
    importer = sys.path_importer_cache[archive]
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert reads == [archive, archive]
    assert importer._files == {}


def test_daemon_forked_worker_runs_the_patch(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(2).repartition(2).mapInPandas(probe, "m string").collect()
    assert {r.m for r in rows} == {worker_daemon.__name__}
