"""Minimal filesystem interface for lake-table METADATA I/O.

Data files are always read/written by Spark itself (any Hadoop-visible
URI works there already); only the manifest/side-table bookkeeping the
driver performs — tiny JSON/parquet files — goes through this
interface. Routing it through one seam means pointing a table at an
object store is a matter of registering a scheme, not rewriting
``LakeTable``.

Semantics the table layer relies on:

- ``create_exclusive`` — atomic create-if-absent (the commit-conflict
  detector; local: ``O_CREAT|O_EXCL``; object stores: conditional PUT
  e.g. S3 ``If-None-Match``).
- ``replace`` — atomic pointer swap for the LATEST file (local:
  ``os.replace``; object stores: plain PUT, which is atomic per key).
- ``read_text`` of a missing path raises ``FileNotFoundError`` (an
  expired or never-committed manifest version).

Local filesystem is the default and only built-in; register others via
:func:`register_fs`.
"""

from __future__ import annotations

import os
import uuid
from typing import Callable


class LocalFS:
    """POSIX-backed implementation (the test/bench default)."""

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return sorted(os.listdir(path))

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def create_exclusive(self, path: str, data: str) -> None:
        """Atomically create ``path`` with ``data``; raise
        ``FileExistsError`` if it already exists (commit conflict)."""
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())

    def replace(self, path: str, data: str) -> None:
        """Atomically (over)write ``path`` with ``data`` via a temp file
        + rename — readers never observe a partial write."""
        d = os.path.dirname(path)
        tmp = os.path.join(d, f".{os.path.basename(path)}.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    def write_bytes(self, path: str, data: bytes) -> None:
        """(Over)write a small binary object (driver-side side-table
        appends). Atomic via temp+rename; object stores: plain PUT."""
        d = os.path.dirname(path)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{os.path.basename(path)}.{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    def delete(self, path: str) -> None:
        """Delete one file/object; missing is not an error (GC retry)."""
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def rmdir(self, path: str) -> None:
        """Remove an empty directory; no-op for object stores (no dirs)
        and for non-empty/missing local dirs."""
        try:
            os.rmdir(path)
        except OSError:
            pass


class ObjectStoreEmulatorFS:
    """Object-store-semantics implementation backed by a local directory
    — the contract a real S3/GCS adapter must satisfy, shipped as the
    second FS implementation and exercised end-to-end by tests.

    Semantics (why each differs from :class:`LocalFS`):

    - **keys, not directories**: ``makedirs``/``rmdir`` are no-ops (an
      object store has no directories); writing a key materializes its
      local parent dirs as a backing detail.
    - ``create_exclusive`` = **conditional PUT** (S3 ``If-None-Match:*``,
      GCS ``if-generation-match:0``): existence check + whole-object
      write under a process-wide lock standing in for the store's
      server-side atomicity. No ``O_CREAT|O_EXCL``.
    - ``replace``/``write_bytes`` = **plain PUT**: atomic per key on the
      server, so no fsync/temp/rename dance.
    - ``delete`` ignores missing keys (idempotent DELETE).

    Data files are still read/written by Spark directly against the same
    paths (on a real deployment: the Hadoop ``s3a://`` connector); ONLY
    the driver's metadata/side-table I/O flows through this class —
    which is exactly the split the seam exists to enforce.

    ``ops`` records every call so tests can assert the routing.
    """

    def __init__(self, strip_scheme: str | None = None):
        import threading
        self._lock = threading.Lock()
        self._strip = strip_scheme
        self.ops: list[tuple[str, str]] = []

    def _local(self, path: str) -> str:
        if self._strip and path.startswith(f"{self._strip}://"):
            return path[len(self._strip) + 2:]
        return path

    def makedirs(self, path: str) -> None:
        self.ops.append(("makedirs", path))  # no directories: no-op

    def exists(self, path: str) -> bool:
        self.ops.append(("exists", path))
        return os.path.exists(self._local(path))

    def isdir(self, path: str) -> bool:
        self.ops.append(("isdir", path))  # "dir" = any key under prefix
        return os.path.isdir(self._local(path))

    def listdir(self, path: str) -> list[str]:
        self.ops.append(("listdir", path))
        p = self._local(path)
        return sorted(os.listdir(p)) if os.path.isdir(p) else []

    def read_text(self, path: str) -> str:
        self.ops.append(("read_text", path))
        with open(self._local(path)) as f:
            return f.read()

    def _put(self, path: str, data: bytes) -> None:
        p = self._local(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(data)

    def create_exclusive(self, path: str, data: str) -> None:
        self.ops.append(("create_exclusive", path))
        with self._lock:  # server-side conditional-PUT atomicity
            if os.path.exists(self._local(path)):
                raise FileExistsError(path)
            self._put(path, data.encode())

    def replace(self, path: str, data: str) -> None:
        self.ops.append(("replace", path))
        self._put(path, data.encode())

    def write_bytes(self, path: str, data: bytes) -> None:
        self.ops.append(("write_bytes", path))
        self._put(path, data)

    def delete(self, path: str) -> None:
        self.ops.append(("delete", path))
        try:
            os.remove(self._local(path))
        except FileNotFoundError:
            pass

    def rmdir(self, path: str) -> None:
        self.ops.append(("rmdir", path))  # no directories: no-op


_REGISTRY: dict[str, Callable[[], object]] = {"file": LocalFS}


def register_fs(scheme: str, factory: Callable[[], object]) -> None:
    """Register a filesystem implementation for a URI scheme
    (e.g. ``register_fs("s3", lambda: S3FS(...))``)."""
    _REGISTRY[scheme] = factory


def get_fs(path: str):
    """Resolve the filesystem for a table path. Bare paths are local."""
    scheme = path.split("://", 1)[0] if "://" in path else "file"
    factory = _REGISTRY.get(scheme)
    if factory is None:
        raise NotImplementedError(
            f"no filesystem registered for scheme {scheme!r} "
            f"(register one with cassandra_data_migrator_spark.lake.fs."
            f"register_fs)")
    return factory()
