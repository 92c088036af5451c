"""A counting delegate for the snapshot layer's storage seam.

Installed with the engine's public ``set_storage_backend``, it forwards
every :class:`StorageBackend` call unchanged to the backend it wraps and
counts it in one of five classes:

- ``read``: ``read_bytes`` (with the bytes returned);
- ``stat``: ``exists``, ``mtime``, ``size``, ``stat_sig``;
- ``list``: ``list_dir``, ``walk_files``;
- ``put``: ``put_atomic``, ``put_file_atomic`` (with the bytes written),
  ``ensure_dir``;
- ``delete``: ``delete``, ``delete_prefix``, ``prune_empty_dirs``.
"""

from __future__ import annotations

import os
import threading

from dask_awkward_spark.sources.storage import StorageBackend

CLASS_OF = {
    "read_bytes": "read",
    "exists": "stat", "mtime": "stat", "size": "stat", "stat_sig": "stat",
    "list_dir": "list", "walk_files": "list",
    "put_atomic": "put", "put_file_atomic": "put", "ensure_dir": "put",
    "delete": "delete", "delete_prefix": "delete", "prune_empty_dirs": "delete",
}
CLASSES = ("read", "put", "stat", "list", "delete")


def fresh_counts() -> "dict[str, int]":
    return {f"{c}_calls": 0 for c in CLASSES} | {"read_bytes": 0, "put_bytes": 0}


class CountingStorage(StorageBackend):
    def __init__(self, delegate: StorageBackend):
        self.delegate = delegate
        self.name = delegate.name
        self.counts = fresh_counts()
        self._lock = threading.Lock()

    def _count(self, method: str, nbytes: int = 0) -> None:
        cls = CLASS_OF[method]
        with self._lock:
            self.counts[f"{cls}_calls"] += 1
            if cls in ("read", "put"):
                self.counts[f"{cls}_bytes"] += nbytes

    def take(self) -> "dict[str, int]":
        """The counts since the last call, and reset them."""
        with self._lock:
            out, self.counts = self.counts, fresh_counts()
        return out

    def read_bytes(self, path):
        data = self.delegate.read_bytes(path)
        self._count("read_bytes", len(data))
        return data

    def exists(self, path):
        self._count("exists")
        return self.delegate.exists(path)

    def mtime(self, path):
        self._count("mtime")
        return self.delegate.mtime(path)

    def size(self, path):
        self._count("size")
        return self.delegate.size(path)

    def stat_sig(self, path):
        self._count("stat_sig")
        return self.delegate.stat_sig(path)

    def list_dir(self, path):
        self._count("list_dir")
        return self.delegate.list_dir(path)

    def walk_files(self, root):
        self._count("walk_files")
        return self.delegate.walk_files(root)

    def put_atomic(self, path, data):
        self._count("put_atomic", len(data))
        return self.delegate.put_atomic(path, data)

    def put_file_atomic(self, src_local, dst):
        try:
            n = os.path.getsize(src_local)
        except OSError:
            n = 0
        self._count("put_file_atomic", n)
        return self.delegate.put_file_atomic(src_local, dst)

    def delete(self, path):
        self._count("delete")
        return self.delegate.delete(path)

    def delete_prefix(self, root):
        self._count("delete_prefix")
        return self.delegate.delete_prefix(root)

    def ensure_dir(self, path):
        self._count("ensure_dir")
        return self.delegate.ensure_dir(path)

    def prune_empty_dirs(self, root):
        self._count("prune_empty_dirs")
        return self.delegate.prune_empty_dirs(root)
