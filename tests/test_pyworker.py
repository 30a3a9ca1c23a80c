"""The session's Python worker daemon (coldata_spark/pyworker.py): a task's
invalidate_caches rereads no unchanged zip archive, a changed one is
reread, and archives added with addPyFile still import inside tasks."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport


def test_a_task_rereads_no_unchanged_archive(spark):
    """Two invalidate_caches calls inside a task read no zip directory:
    the worker's own call at task start keyed every importer."""

    def count_reads(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        read = zipimport._read_directory
        archives = []

        def counting(archive):
            archives.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [len(archives)]})

    rows = spark.range(100, numPartitions=2).mapInArrow(count_reads, "reads long")
    assert [r.reads for r in rows.collect()] == [0, 0]


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_a_rewritten_archive_is_reread_and_an_unchanged_one_is_not(
    tmp_path, monkeypatch
):
    from coldata_spark import pyworker  # noqa: F401  (patches zipimporter)

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pyworker_mod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("pyworker_mod_a").VALUE == 1
    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # keys the importer
    reads.clear()
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"pyworker_mod_a": "VALUE = 1\n", "pyworker_mod_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert archive in reads
    try:
        assert importlib.import_module("pyworker_mod_b").VALUE == 2
    finally:
        for name in ("pyworker_mod_a", "pyworker_mod_b"):
            sys.modules.pop(name, None)


def test_an_added_py_file_imports_inside_a_task(spark, tmp_path):
    """addPyFile is what PySpark's per-task invalidation exists for."""
    archive = str(tmp_path / "pyworker_added.zip")
    _write_zip(archive, {"pyworker_added_mod": "VALUE = 41\n"})
    spark.sparkContext.addPyFile(archive)

    def use(batches):
        import pyarrow as pa
        import pyworker_added_mod

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"v": [pyworker_added_mod.VALUE + 1]})

    rows = spark.range(10, numPartitions=1).mapInArrow(use, "v long").collect()
    assert [r.v for r in rows] == [42]
