"""The zip-importer fix of edspdf_spark._worker_imports: installed in
reused Python workers only, and an archive is re-read on
invalidate_caches() exactly when it changed."""

import importlib
import sys
import zipfile
import zipimport

from edspdf_spark import _worker_imports as W


def test_reused_worker_runs_the_fix(spark):
    def probe(batches):
        import zipimport

        import pyarrow as pa

        import edspdf_spark._worker_imports as wi

        for _ in batches:
            pass
        ours = zipimport.zipimporter.invalidate_caches is wi._invalidate_caches
        yield pa.RecordBatch.from_pylist([{"ours": ours}])

    df = spark.range(0, 8, 1, 4)
    df.mapInArrow(probe, "ours boolean").collect()
    rows = df.mapInArrow(probe, "ours boolean").collect()
    assert len(rows) == 4 and all(r.ours for r in rows)
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def test_archive_reread_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "pkgs.zip")
    _write_zip(archive, {"wi_first.py": "X = 1\n"})
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    # restored at teardown, like every attribute set through monkeypatch
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(W, "_last_read", {})
    monkeypatch.syspath_prepend(archive)
    W.install()
    try:
        import wi_first
        assert wi_first.X == 1
        importlib.invalidate_caches()  # first call after install reads
        n = len(reads)
        importlib.invalidate_caches()
        assert len(reads) == n  # unchanged archive: no re-read

        _write_zip(archive, {"wi_first.py": "X = 1\n",
                             "wi_second.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == n + 1
        import wi_second
        assert wi_second.Y == 2

        importlib.invalidate_caches()
        assert len(reads) == n + 1
        (tmp_path / "pkgs.zip").unlink()  # os.stat fails: stock method
        importlib.invalidate_caches()
        assert len(reads) == n + 2
    finally:
        for name in ("wi_first", "wi_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
