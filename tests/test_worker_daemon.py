"""Python workers import pyspark from the installed package, not from
Spark's archives (``worker_daemon``)."""

from __future__ import annotations

import os
import socket
import zipfile

import pyarrow as pa
import pyspark

from analysis_of_flight_delay_data_by_mapreduce_spark.worker_daemon import (
    quick_ack,
    select_path,
)


def _spark_archive(entry: str) -> bool:
    base = os.path.basename(entry)
    return base == "pyspark.zip" or base.startswith("py4j-") or base.endswith(".jar")


def test_worker_imports_installed_pyspark(spark):
    def report(batches):
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        zips = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        yield pa.RecordBatch.from_pydict({
            "file": [pyspark.__file__],
            "path": [[p for p in sys.path if p.endswith((".zip", ".jar"))]],
            "zips": [zips],
        })

    rows = (
        spark.range(2, numPartitions=2)
        .mapInArrow(report, "file string, path array<string>, zips array<string>")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert r.file == pyspark.__file__
        assert not [p for p in r.path if _spark_archive(p)]
        assert r.zips == []


def _package(root, name, version=None):
    pkg = root / name
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    if version:
        (pkg / "version.py").write_text(f'__version__: str = "{version}"\n')


def test_select_path(tmp_path):
    lib = tmp_path / "lib"
    lib.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", '__version__: str = "4.1.2"\n')
    archives = [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip"),
                str(lib / "spark-core_2.13-4.1.2.jar")]

    def path_with(site, *pkgs):
        for name, version in pkgs:
            _package(tmp_path / site, name, version)
        return [*archives, str(tmp_path / site)]

    both = path_with("both", ("pyspark", "4.1.2"), ("py4j", None))
    assert select_path(both) == [str(tmp_path / "both")]
    for path in (
        path_with("no_py4j", ("pyspark", "4.1.2")),
        path_with("no_pyspark", ("py4j", None)),
        path_with("other_version", ("pyspark", "4.0.0"), ("py4j", None)),
    ):
        assert select_path(path) == path


def test_quick_ack_turned_on_before_each_task():
    """The worker's TCP socket is in quick-ACK mode when a task starts,
    even after the kernel left that mode; a Unix domain socket is left
    alone."""
    seen = []

    def worker(sock, authenticated):
        if sock.family == socket.AF_UNIX:
            seen.append(None)
        else:
            seen.append(sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK))
        return 0

    run = quick_ack(worker)
    with socket.create_server(("127.0.0.1", 0)) as srv:
        with socket.create_connection(srv.getsockname()):
            conn, _ = srv.accept()
            with conn:
                for _ in range(2):
                    conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK, 0)
                    assert run(conn, False) == 0
    a, b = socket.socketpair(socket.AF_UNIX)
    with a, b:
        assert run(a, True) == 0
    assert seen == [1, 1, None]
