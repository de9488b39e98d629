"""Python-worker daemon that imports pyspark from the installed package.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Spark starts the daemon with its own archives on ``PYTHONPATH``:
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip and the
spark-core jar. Every Python task then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython 3.11 that makes
each cached ``zipimporter`` re-read its whole archive directory: ~27k
entries, 150-350 ms of CPU per task on a reused worker.

When the interpreter's own packages provide pyspark and py4j, and that
pyspark is the version packed in ``pyspark.zip``, the daemon drops the
archives from ``sys.path`` and their importers from
``sys.path_importer_cache`` before anything imports pyspark. Otherwise the
path stays as Spark set it. Either way it then runs the stock
``pyspark.daemon.manager()``.

Each task also turns on TCP quick-ACK on its worker's socket. The JVM
writes a task's header, command and input to that socket in several
small sends and sets no ``TCP_NODELAY``, so Nagle's algorithm holds each
send until the previous one is ACKed; the worker sends nothing back
until it has read its input, so its kernel delays that ACK, up to 40 ms
on Linux. Quick-ACK mode sends the ACK at once. The kernel drops out of
that mode by itself, so it is turned on again at the start of every
task. Unix domain sockets have no ACKs and are left alone.
"""

from __future__ import annotations

import os
import re
import socket
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""", re.M)


def _is_spark_archive(entry: str) -> bool:
    base = os.path.basename(entry)
    return (
        base == "pyspark.zip"
        or (base.startswith("py4j-") and base.endswith(".zip"))
        or base.endswith(".jar")
    )


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _zip_version(archive: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return _version(z.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(path: list[str]) -> str | None:
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.has_location:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


def select_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives, or ``path`` itself when pyspark
    and py4j do not resolve without them, or when the resolved pyspark's
    version differs from the one in ``pyspark.zip``."""
    archives = [p for p in path if _is_spark_archive(p)]
    kept = [p for p in path if not _is_spark_archive(p)]
    zips = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    if not zips or PathFinder.find_spec("py4j", kept) is None:
        return path
    installed = _installed_version(kept)
    if installed is None or installed != _zip_version(zips[0]):
        return path
    return kept


def _drop_archives() -> None:
    kept = select_path(sys.path)
    if kept is sys.path:
        return
    gone = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == g or key.startswith(g + os.sep) for g in gone):
            del sys.path_importer_cache[key]


def quick_ack(worker):
    """``worker(sock, authenticated)`` with quick-ACK turned on for a TCP
    ``sock`` before the task runs (module docstring)."""

    def run(sock, authenticated):
        if sock.family in (socket.AF_INET, socket.AF_INET6) and hasattr(
            socket, "TCP_QUICKACK"
        ):
            sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK, 1)
        return worker(sock, authenticated)

    return run


if __name__ == "__main__":
    _drop_archives()
    from pyspark import daemon

    daemon.worker = quick_ack(daemon.worker)
    daemon.manager()
