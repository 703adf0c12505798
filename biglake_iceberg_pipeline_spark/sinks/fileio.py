"""FileIO: the object-store seam under the lakehouse metadata layer.

Every byte of MANIFEST metadata (the core, its segments, the
generation-CAS markers, the commit lock) moves through the six
primitives below — exactly the operations cloud object stores expose
natively — so a GCS/S3/Azure backend is an implementation of this
class, not a rewrite of sinks/lakehouse.py (VERDICT r9 item 7):

==================  =====================  =========================
primitive           local filesystem       object store mapping
==================  =====================  =========================
read_bytes          open().read()          GET
write_atomic        tmp file + os.replace  PUT (single-object puts
                                           are atomic on GCS/S3)
put_if_absent       O_CREAT | O_EXCL       GCS if-generation-match=0
                                           / S3 If-None-Match: *
exists              os.path.exists         HEAD
list                os.listdir             LIST by prefix
delete              os.remove (missing-ok) DELETE (idempotent)
==================  =====================  =========================

plus two conveniences local semantics need (``makedirs`` — a no-op on
flat-namespace stores — and ``mtime`` for stale-marker arbitration;
object stores expose creation time on HEAD).

Backends register by PATH PREFIX (``register_fileio("mem://", io)``),
the Hadoop/Iceberg scheme-dispatch convention; unprefixed paths fall
through to the local filesystem, so existing tables and tests run
unchanged through the seam. Data files are written by Spark's own
writers and are NOT routed here — on a cluster they already go
through Hadoop FileSystems; this seam covers the metadata protocol
the table format owns.

``InMemoryFileIO`` is the contract's executable spec: a pure-dict
backend with compare-and-swap ``put_if_absent``, used by tests to
prove the commit protocol never relies on an unlisted filesystem
behavior (tests/test_fileio.py drives a full manifest lifecycle
against it).

The commit LOCK is a ``put_if_absent`` marker (``_commit.lock``)
through this seam too, released with ``delete`` and broken past its
stale age via ``mtime`` — the same rule as the generation-CAS
markers. It stays a single-host, fail-fast mutex (maintenance that
must not interleave with a commit relies on it); the correctness
arbiter across hosts is the generation CAS.
"""

from __future__ import annotations

import os
import threading
import time
import uuid


class LocalFileIO:
    """Default backend: POSIX filesystem with tmp+rename atomicity."""

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def write_atomic(self, path: str, data: bytes) -> None:
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)

    def put_if_absent(self, path: str, data: bytes = b"") -> bool:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            if data:
                os.write(fd, data)
        finally:
            os.close(fd)
        return True

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def list(self, path: str) -> list[str]:
        try:
            return os.listdir(path)
        except OSError:
            return []

    def delete(self, path: str) -> None:
        try:
            os.remove(path)
        except OSError:
            pass

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def mtime(self, path: str) -> float:
        """Raises OSError when missing — callers use that to detect
        a marker released between exists-check and stat."""
        return os.path.getmtime(path)

    def size(self, path: str) -> int:
        """Object size in bytes (HEAD on object stores); OSError
        when missing."""
        return os.path.getsize(path)

    def touch(self, path: str) -> None:
        """Reset the object's age clock (GC grace arbitration). On
        POSIX this is utime; on object stores the analog is a
        same-bytes self-copy (resets the updated-time HEAD reports).
        Missing object → no-op (the race it guards is benign)."""
        now = time.time()
        try:
            os.utime(path, (now, now))
        except OSError:
            pass


class InMemoryFileIO:
    """Executable contract spec: a flat-namespace, thread-safe,
    conditional-PUT object store in a dict. ``write_atomic`` is a
    single assignment under the lock (readers see old-or-new bytes,
    never a torn write), ``put_if_absent`` is a real compare-and-swap,
    ``makedirs`` is a no-op (flat namespace), and ``list`` returns
    direct children of the prefix — the GCS/S3 semantics the
    lakehouse commit protocol must (and, per tests, does) survive
    on."""

    def __init__(self):
        self._objects: dict[str, bytes] = {}
        self._ctime: dict[str, float] = {}
        self._lock = threading.Lock()

    def read_bytes(self, path: str) -> bytes:
        with self._lock:
            if path not in self._objects:
                raise FileNotFoundError(path)
            return self._objects[path]

    def write_atomic(self, path: str, data: bytes) -> None:
        with self._lock:
            self._objects[path] = data
            self._ctime[path] = time.time()

    def put_if_absent(self, path: str, data: bytes = b"") -> bool:
        with self._lock:
            if path in self._objects:
                return False
            self._objects[path] = data
            self._ctime[path] = time.time()
            return True

    def exists(self, path: str) -> bool:
        with self._lock:
            return path in self._objects

    def list(self, path: str) -> list[str]:
        prefix = path.rstrip("/") + "/"
        with self._lock:
            return sorted(
                {
                    k[len(prefix):].split("/", 1)[0]
                    for k in self._objects
                    if k.startswith(prefix)
                }
            )

    def delete(self, path: str) -> None:
        with self._lock:
            self._objects.pop(path, None)
            self._ctime.pop(path, None)

    def makedirs(self, path: str) -> None:
        pass  # flat namespace

    def mtime(self, path: str) -> float:
        with self._lock:
            if path not in self._ctime:
                raise OSError(f"no such object: {path}")
            return self._ctime[path]

    def size(self, path: str) -> int:
        with self._lock:
            if path not in self._objects:
                raise OSError(f"no such object: {path}")
            return len(self._objects[path])

    def touch(self, path: str) -> None:
        with self._lock:
            if path in self._objects:
                self._ctime[path] = time.time()


LOCAL = LocalFileIO()
_REGISTRY: list[tuple[str, object]] = []


def register_fileio(prefix: str, io) -> None:
    """Route paths starting with ``prefix`` through ``io`` (later
    registrations win). The Hadoop/Iceberg scheme-dispatch idiom."""
    _REGISTRY.insert(0, (prefix, io))


def unregister_fileio(prefix: str) -> None:
    _REGISTRY[:] = [(p, io) for p, io in _REGISTRY if p != prefix]


def fileio_for(path: str):
    for prefix, io in _REGISTRY:
        if path.startswith(prefix):
            return io
    return LOCAL
