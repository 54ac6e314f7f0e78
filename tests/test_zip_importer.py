"""The stamp-checked zip importer installed by `import varpulis_spark`.

Spark's Python worker calls importlib.invalidate_caches() at every task
start; a plain zipimporter then re-reads its archive's central directory.
These tests pin that an unchanged archive is not re-read, that a rewritten
one is, and that directory finders keep their meaning."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import varpulis_spark  # noqa: F401 - installs the stamped importer
from varpulis_spark.engine import StampedZipImporter, install_stamped_zip_importers


@pytest.fixture
def read_log(monkeypatch):
    """Archives passed to zipimport._read_directory while the test runs."""
    log: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        log.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return log


@pytest.fixture
def on_path():
    """Prepend entries to sys.path; undo path, finder cache and the test's
    `vz_mod_*` modules."""
    added: list[str] = []

    def add(entry: str) -> None:
        sys.path.insert(0, entry)
        added.append(entry)

    yield add
    for entry in added:
        sys.path.remove(entry)
        sys.path_importer_cache.pop(entry, None)
    for name in [m for m in sys.modules if m.startswith("vz_mod_")]:
        del sys.modules[name]
    importlib.invalidate_caches()


def _write_zip(path, modules: dict[str, str], mtime_ns: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.utime(path, ns=(mtime_ns, mtime_ns))


def test_unchanged_archive_is_not_reread(tmp_path, on_path, read_log):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"vz_mod_a": "X = 1\n"}, 1_000_000_000_000_000_000)
    on_path(archive)
    assert importlib.import_module("vz_mod_a").X == 1
    assert type(sys.path_importer_cache[archive]) is StampedZipImporter

    read_log.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in read_log


def test_rewritten_archive_is_reread(tmp_path, on_path, read_log):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"vz_mod_b": "X = 1\n"}, 1_000_000_000_000_000_000)
    on_path(archive)
    importlib.import_module("vz_mod_b")
    size = os.path.getsize(archive)

    _write_zip(
        archive,
        {"vz_mod_b": "X = 1\n", "vz_mod_c": "Y = 2\n"},
        1_000_000_001_000_000_000,
    )
    assert os.path.getsize(archive) != size
    read_log.clear()
    importlib.invalidate_caches()
    assert read_log.count(archive) == 1
    assert importlib.import_module("vz_mod_c").Y == 2


def test_new_module_in_plain_directory_still_found(tmp_path, on_path):
    d = tmp_path / "pkgdir"
    d.mkdir()
    on_path(str(d))
    with pytest.raises(ImportError):
        importlib.import_module("vz_mod_dir")
    (d / "vz_mod_dir.py").write_text("Z = 3\n")
    importlib.invalidate_caches()
    assert importlib.import_module("vz_mod_dir").Z == 3
    assert not isinstance(sys.path_importer_cache[str(d)], zipimport.zipimporter)


def test_install_swaps_plain_importers_without_reading(tmp_path, on_path, read_log):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"vz_mod_d": "X = 4\n"}, 1_000_000_000_000_000_000)
    on_path(archive)
    plain = zipimport.zipimporter(archive)
    sys.path_importer_cache[archive] = plain
    read_log.clear()

    install_stamped_zip_importers()
    install_stamped_zip_importers()  # idempotent
    swapped = sys.path_importer_cache[archive]
    assert type(swapped) is StampedZipImporter
    assert swapped._files is plain._files
    assert read_log == []
    assert sys.path_hooks.count(StampedZipImporter) == 1
    assert zipimport.zipimporter not in sys.path_hooks


def test_worker_tasks_skip_zip_rereads(spark):
    """Python workers that unpickled a varpulis UDF hold only stamped zip
    importers, and Spark's per-task invalidate_caches() reads no archive."""
    import pandas as pd

    def warm(batches):
        import varpulis_spark  # noqa: F401

        for b in batches:
            yield b

    def probe(batches):
        import importlib
        import sys
        import zipimport

        reused = "varpulis_spark" in sys.modules  # imported by an earlier task
        import varpulis_spark  # noqa: F401

        zips = [
            f for f in list(sys.path_importer_cache.values())
            if isinstance(f, zipimport.zipimporter)
        ]
        stamped = all(type(f).__name__ == "StampedZipImporter" for f in zips)
        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for b in batches:
            yield pd.DataFrame(
                {"n_zip": [len(zips)] * len(b), "stamped": [stamped] * len(b),
                 "reads": [len(reads)] * len(b), "reused": [reused] * len(b)}
            )

    df = spark.range(0, 8, numPartitions=2)
    assert df.mapInPandas(warm, "id long").count() == 8
    rows = df.mapInPandas(
        probe, "n_zip int, stamped boolean, reads int, reused boolean"
    ).collect()
    assert len(rows) == 8
    assert any(r.reused for r in rows), rows
    assert all(r.n_zip > 0 for r in rows), rows
    assert all(r.stamped for r in rows), rows
    assert all(r.reads == 0 for r in rows), rows
