"""The fixed cost of a Python task (SCALING.md "Python task fixed cost").

Two costs sat on every Python task: PySpark's worker calls
``importlib.invalidate_caches()`` before each task, which before Python
3.13 made every zipimporter re-read its archive's directory, and the
loopback TCP socket that carries a task's input could stall on a delayed
ACK. Importing ``xxt_cdc_spark`` keeps an unchanged archive's directory,
and ``get_spark`` reaches the workers over a Unix-domain socket when the
socket path fits.
"""

from __future__ import annotations

import importlib
import os
import sys
import tempfile
import zipfile
import zipimport

import pytest

import xxt_cdc_spark  # noqa: F401  (installs the zip directory stamp)
from xxt_cdc_spark.session import python_worker_socket_conf

needs_stamp = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="Python 3.13 re-reads archives lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.part"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)  # a new inode, as a real reinstall gives


@needs_stamp
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zstamp_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zstamp_a", raising=False)
    monkeypatch.delitem(sys.modules, "zstamp_b", raising=False)
    assert importlib.import_module("zstamp_a").VALUE == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # the first call stamps the archive
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"zstamp_a": "VALUE = 1\n", "zstamp_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zstamp_b").VALUE == 2


@needs_stamp
def test_reused_worker_does_not_reread_archives(spark):
    """Without the stamp every task re-read pyspark.zip (16 directory
    reads a task)."""
    import pyarrow as pa

    def measure(batches):
        import importlib
        import os
        import zipimport

        import xxt_cdc_spark  # noqa: F401  (what every package task imports)

        read_directory = zipimport._read_directory
        reads = []

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "reads": [len(reads)]})

    one_row = spark.range(1, numPartitions=1)
    seen: set[int] = set()
    for _ in range(32):
        (row,) = one_row.mapInArrow(measure, "pid long, reads long").collect()
        if row.pid in seen:
            # a worker's second task finds every archive stamped
            assert row.reads == 0
            return
        seen.add(row.pid)
    pytest.fail(f"no Python worker was reused over 32 tasks: {sorted(seen)}")


def test_socket_choice(spark, monkeypatch):
    enabled = "spark.python.unix.domain.socket.enabled"
    assert spark.conf.get(enabled) == python_worker_socket_conf()[enabled]

    def worker_env(batches):
        import os

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "false")]}
        )

    (row,) = spark.range(1, numPartitions=1).mapInArrow(worker_env, "uds string").collect()
    assert row.uds.lower() == spark.conf.get(enabled)

    monkeypatch.setattr(tempfile, "tempdir", "/tmp")
    assert python_worker_socket_conf() == {
        enabled: "true",
        "spark.python.unix.domain.socket.dir": "/tmp",
    }
    # <dir>/.<uuid4>.sock is 43 characters more than <dir>: 113 > 107
    deep = "/" + "d" * 69
    assert len(deep) == 70
    monkeypatch.setattr(tempfile, "tempdir", deep)
    assert python_worker_socket_conf() == {enabled: "false"}
