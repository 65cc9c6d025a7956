"""Driver-side filesystem abstraction for a lake table.

The contract splits by who touches what:

- Spark reads and writes the DATA (parquet files) through its Hadoop
  filesystems — any ``s3a://`` / ``gs://`` / ``abfss://`` root.
- :class:`FileSystem` lists and deletes data by PREFIX: the
  just-written snapshot listing that becomes manifest entries, orphan
  GC and dead-letter expiry. Data paths never get a directory probe
  (``exists``/``is_file`` on a directory): an object store has no
  directories and answers "absent".
- :class:`FileSystem` owns the METADATA (the append-only commit log),
  which needs primitives Spark does not expose to the driver:

  1. atomic create-if-absent — the CAS commit point (one winner per
     log position);
  2. atomic replace — advisory hint files;
  3. listing + stat — log recovery.

:class:`LocalFS` implements them with POSIX semantics (hard-link
create-exclusive, ``os.replace``). An object-store implementation maps
create-if-absent to a conditional PUT — S3 ``If-None-Match: *`` and
GCS ``x-goog-if-generation-match: 0`` are public, strongly-consistent
APIs — and replace to a plain PUT. Everything above this module is
store-agnostic.
"""

from __future__ import annotations

import os
import tempfile
import threading
import time


class FileSystem:
    """Driver-side metadata I/O plus prefix listing/deletion of data
    files (see the module docstring). Paths are plain strings; Spark
    does every data read and write."""

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        raise NotImplementedError

    def write_text(self, path: str, text: str) -> None:
        """Atomic full replace (last writer wins) — hint files only."""
        raise NotImplementedError

    def create_exclusive(self, path: str, text: str) -> bool:
        """Atomically create ``path`` with ``text`` iff it does not
        exist. Returns False (writing nothing) when it already does —
        the optimistic-concurrency primitive."""
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        """Names in a directory; [] when the directory is absent."""
        raise NotImplementedError

    def walk_files(self, path: str) -> list[str]:
        """All file paths under a prefix; [] when absent."""
        raise NotImplementedError

    def is_file(self, path: str) -> bool:
        """True when path names a file/object (not a directory).
        Deliberately abstract: defaulting to ``exists`` would silently
        classify directories as files in a subclass that overrides
        ``exists`` but not this."""
        raise NotImplementedError

    def delete(self, path: str) -> None:
        raise NotImplementedError

    def delete_dir_if_debris(self, path: str) -> bool:
        """Remove a directory that holds only writer debris
        (_SUCCESS / .crc markers). Object stores have no directories —
        their implementation is a no-op returning False."""
        return False

    def mtime(self, path: str) -> float:
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        raise NotImplementedError


class LocalFS(FileSystem):
    """POSIX implementation (also correct on NFS v4+ for link())."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text(self, path: str, text: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            f.write(text)
        os.replace(tmp, path)

    def create_exclusive(self, path: str, text: str) -> bool:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            f.write(text)
        try:
            os.link(tmp, path)  # atomic create-exclusive (POSIX)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def listdir(self, path: str) -> list[str]:
        try:
            return sorted(os.listdir(path))
        except FileNotFoundError:
            return []

    def walk_files(self, path: str) -> list[str]:
        out = []
        for d, _sub, files in os.walk(path):
            out.extend(os.path.join(d, f) for f in files)
        return out

    def is_file(self, path: str) -> bool:
        return os.path.isfile(path)

    def delete(self, path: str) -> None:
        os.unlink(path)

    def delete_dir_if_debris(self, path: str) -> bool:
        try:
            leftover = os.listdir(path)
        except (FileNotFoundError, NotADirectoryError):
            return False
        if all(f == "_SUCCESS" or f.endswith(".crc") for f in leftover):
            for f in leftover:
                os.unlink(os.path.join(path, f))
            os.rmdir(path)
            return True
        return False

    def mtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)


class InMemoryObjectStore(FileSystem):
    """Flat-namespace object store with CONDITIONAL-PUT semantics —
    the exact driver-visible contract of S3 (``PUT`` +
    ``If-None-Match: *``, strongly consistent since 2020) and GCS
    (``x-goog-if-generation-match: 0``). Paths are opaque keys; there
    are no directories (``makedirs`` is a no-op, ``listdir`` is a
    prefix scan, debris cleanup returns False).

    This is the proving double for the metadata seam: the whole
    MetaStore test suite runs against it unchanged, so a production
    S3/GCS implementation only has to map these six operations onto
    the store's HTTP API — no log/commit logic changes. It is also
    thread-safe, matching the multi-writer CAS contract the commit
    protocol relies on."""

    def __init__(self):
        self._objects: dict[str, str] = {}
        self._mtimes: dict[str, float] = {}
        self._lock = threading.Lock()

    def exists(self, path: str) -> bool:
        with self._lock:
            return path in self._objects

    def read_text(self, path: str) -> str:
        with self._lock:
            try:
                return self._objects[path]
            except KeyError:
                raise FileNotFoundError(path) from None

    def write_text(self, path: str, text: str) -> None:
        with self._lock:  # plain PUT: last writer wins
            self._objects[path] = text
            self._mtimes[path] = time.time()

    def create_exclusive(self, path: str, text: str) -> bool:
        with self._lock:  # PUT If-None-Match:* — one winner per key
            if path in self._objects:
                return False
            self._objects[path] = text
            self._mtimes[path] = time.time()
            return True

    def listdir(self, path: str) -> list[str]:
        prefix = path.rstrip("/") + "/"
        with self._lock:
            names = {
                k[len(prefix):].split("/", 1)[0]
                for k in self._objects
                if k.startswith(prefix)
            }
        return sorted(names)

    def walk_files(self, path: str) -> list[str]:
        prefix = path.rstrip("/") + "/"
        with self._lock:
            return sorted(k for k in self._objects if k.startswith(prefix))

    def is_file(self, path: str) -> bool:
        with self._lock:
            return path in self._objects

    def delete(self, path: str) -> None:
        with self._lock:
            self._objects.pop(path, None)
            self._mtimes.pop(path, None)

    def mtime(self, path: str) -> float:
        with self._lock:
            try:
                return self._mtimes[path]
            except KeyError:
                raise FileNotFoundError(path) from None

    def makedirs(self, path: str) -> None:
        pass  # object stores have no directories


def walk_files_parallel(fs: FileSystem, root_dir: str, max_workers: int = 16) -> list[str]:
    """List every file under ``root_dir`` by fanning one ``walk_files``
    task per first-level prefix over a thread pool.

    Object-store LIST calls are latency-bound, not bandwidth-bound, so
    a 10^6-file table walked serially from the driver costs minutes of
    round-trips; prefix-parallel listing (one task per snapshot/bucket
    directory) divides that by the pool width while staying entirely
    inside the FileSystem seam — no executor-side filesystem
    assumptions, so it works identically against LocalFS and the
    in-memory conditional-PUT double. Serial fallback when the root has
    no sub-prefixes."""
    names = fs.listdir(root_dir)
    if not names:
        return fs.walk_files(root_dir)

    def one(prefix: str) -> list[str]:
        # walk the prefix; an empty walk of an existing OBJECT means the
        # entry is a loose top-level file — classify inside the pooled
        # task so no serial per-entry round-trips precede the fan-out
        found = fs.walk_files(prefix)
        if found:
            return found
        return [prefix] if fs.is_file(prefix) else []

    from concurrent.futures import ThreadPoolExecutor

    files: list[str] = []
    with ThreadPoolExecutor(max_workers=min(max_workers, len(names))) as ex:
        for part in ex.map(one, [os.path.join(root_dir, n) for n in names]):
            files.extend(part)
    return files


def mtimes_parallel(fs: FileSystem, paths: list[str], max_workers: int = 16) -> dict[str, float]:
    """Batch ``mtime`` lookups over a thread pool (object-store HEADs
    are independent round-trips). Missing files map to +inf — i.e.
    'newer than any horizon' — so age checks of the form
    ``now - mtime >= horizon`` SKIP them: the file was already deleted
    by a concurrent actor, and skipping (never re-deleting) is the only
    always-safe response."""
    if not paths:
        return {}

    def one(p: str) -> tuple[str, float]:
        try:
            return p, fs.mtime(p)
        except FileNotFoundError:
            return p, float("inf")

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(max_workers, len(paths))) as ex:
        return dict(ex.map(one, paths))
