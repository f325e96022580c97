"""Metadata IO for the persistence layer — Hadoop FileSystem when the
store path carries a URI scheme, plain POSIX for schemeless local paths
(the degenerate case).

Why this exists: the reference's sink was a NETWORK database (libpq
connection, ``/root/reference/src/Database.cpp:5`` — nothing about its
persistence assumed a local disk), so this engine's stores must not
silently require one either.  ``ManifestTable`` and the saved models
write their DATA through Spark (cluster-capable on any
``hdfs://``/``s3a://`` path), but their manifest/meta commits are
driver-side file operations.  Routed
through ``os``/``shutil``/``pyarrow`` they silently require the store
directory to be driver-local — a hard blocker on a real cluster.  This
module expresses the same primitives over
``org.apache.hadoop.fs.FileSystem`` (reached via the live JVM, no new
dependency), so the store URI decides the transport:

* no scheme (``/tmp/x``)  → :class:`LocalIO` — byte-identical to the
  old behavior, zero py4j overhead in streaming hot loops;
* ``file://`` and any configured Hadoop scheme (``hdfs://``, mounted
  object stores) → :class:`HadoopIO`;
* an unconfigured scheme (e.g. ``s3a://`` without the AWS connector on
  the classpath) → a clear :class:`UnsupportedFsError` at construction
  time, not a confusing failure mid-commit.

Atomicity: the commit points (``write_atomic``, a temp-file write then
``rename_overwrite``) go through
``FileContext.rename(..., Options.Rename.OVERWRITE)``, which is atomic
on local filesystems and HDFS.  **S3 caveat**: object stores implement
rename as copy+delete — non-atomic.  On S3, run the manifest/meta
directory on HDFS/EFS or front it with a coordination layer (the same
constraint Delta Lake documents for its transaction log; S3A's
committers solve task output, not metadata swaps).

Seekable reads: ``open_read`` hands back a read-only, seekable binary
file object on either backend, which ``pyarrow.parquet`` reads like a
local file — the footer by a seek to the tail, then only the column
chunks it is asked for (on ``HadoopIO`` through a driver-local spill
file, not py4j's slow byte-array marshalling).  Row counts come from
the FOOTER alone (driver-side metadata, never a Spark scan), and
``ManifestTable.lookup`` reads single row groups the same way.
"""

from __future__ import annotations

import io
import os
import shutil
import tempfile
from urllib.parse import urlparse


class UnsupportedFsError(RuntimeError):
    """The path's URI scheme has no usable Hadoop FileSystem."""


def fs_for(spark, path: str) -> "LocalIO | HadoopIO":
    """The IO backend for ``path``: POSIX for schemeless paths, Hadoop
    for URIs.  Raises :class:`UnsupportedFsError` (with the underlying
    JVM message) when the scheme has no FileSystem implementation or
    configuration — failing at store construction, where the operator
    can act on it."""
    scheme = urlparse(path).scheme
    # Windows drive letters don't exist in this engine's deployments;
    # one-letter schemes are not a concern.  An empty scheme is the
    # plain-local degenerate case.
    if scheme == "":
        return LocalIO()
    return HadoopIO(spark, path)


class _SharedIO:
    """Operations both backends build from their primitives."""

    def write_atomic(self, p: str, data: bytes) -> None:
        """Replace ``p``'s content with ``data`` in one step: readers
        see the old bytes or the new, never a partial write."""
        self.write_bytes(p + ".tmp", data)
        self.rename_overwrite(p + ".tmp", p)

    def parquet_num_rows(self, p: str) -> int:
        import pyarrow.parquet as pq

        with self.open_read(p) as f:
            return pq.read_metadata(f).num_rows


class LocalIO(_SharedIO):
    """POSIX metadata IO — the schemeless-path degenerate case."""

    def exists(self, p: str) -> bool:
        return os.path.exists(p)

    def is_file(self, p: str) -> bool:
        return os.path.isfile(p)

    def is_dir(self, p: str) -> bool:
        return os.path.isdir(p)

    def list_names(self, d: str) -> list[str]:
        try:
            return sorted(os.listdir(d))
        except FileNotFoundError:
            return []

    def mkdirs(self, p: str) -> None:
        os.makedirs(p, exist_ok=True)

    def delete(self, p: str, recursive: bool = False) -> None:
        # match HadoopIO.delete's contract exactly: missing-ok, a
        # recursive delete also removes a REGULAR file at the path, and
        # real IO/permission errors RAISE — rmtree(ignore_errors=True)
        # would silently leave data behind (a GC sweep that 'succeeds'
        # while unreferenced files accumulate), backend-dependent
        # behavior for the same nine-primitive contract
        try:
            if recursive and os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
        except FileNotFoundError:
            pass

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def rename_overwrite(self, src: str, dst: str) -> None:
        os.replace(src, dst)  # atomic on POSIX

    def read_bytes(self, p: str) -> bytes:
        with open(p, "rb") as f:
            return f.read()

    def open_read(self, p: str):
        return open(p, "rb")

    def write_bytes(self, p: str, data: bytes) -> None:
        with open(p, "wb") as f:
            f.write(data)

    def walk_parquet(self, d: str) -> list[str]:
        out = []
        for root, _dirs, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet"):
                    out.append(os.path.join(root, f))
        return sorted(out)


class HadoopIO(_SharedIO):
    """Hadoop FileSystem metadata IO, reached through the live JVM.

    One instance per store (the FileSystem handle is resolved once from
    the store URI and cached — Hadoop caches them JVM-wide anyway).
    All paths passed in must be full URIs under the same scheme.
    """

    def __init__(self, spark, base_path: str):
        self._jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()
        self._P = self._jvm.org.apache.hadoop.fs.Path
        try:
            self._fs = self._P(base_path).getFileSystem(self._conf)
        except Exception as e:  # ClassNotFound / UnsupportedFileSystem
            raise UnsupportedFsError(
                f"no usable Hadoop FileSystem for {base_path!r}: "
                f"{getattr(e, 'java_exception', e)}"
            ) from e
        self._fc = None  # FileContext, built lazily (rename_overwrite)

    # -- predicates / listing ------------------------------------------------

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._P(p)))

    def is_file(self, p: str) -> bool:
        jp = self._P(p)
        return bool(self._fs.exists(jp)) and bool(self._fs.isFile(jp))

    def is_dir(self, p: str) -> bool:
        jp = self._P(p)
        return bool(self._fs.exists(jp)) and bool(
            self._fs.getFileStatus(jp).isDirectory()
        )

    def list_names(self, d: str) -> list[str]:
        jp = self._P(d)
        if not self._fs.exists(jp):
            return []
        return sorted(
            st.getPath().getName() for st in self._fs.listStatus(jp)
        )

    # -- mutation --------------------------------------------------------

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._P(p))

    def delete(self, p: str, recursive: bool = False) -> None:
        # Hadoop delete returns False for a missing path — same
        # missing-ok contract as the POSIX side
        self._fs.delete(self._P(p), recursive)

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._P(src), self._P(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def rename_overwrite(self, src: str, dst: str) -> None:
        """The commit point: atomic replace on local FS and HDFS (see
        module docstring for the S3 caveat)."""
        if self._fc is None:
            self._fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                self._P(dst).toUri(), self._conf
            )
        Rename = self._jvm.org.apache.hadoop.fs.Options.Rename
        opts = self._gw.new_array(Rename, 1)
        opts[0] = Rename.OVERWRITE
        self._fc.rename(self._P(src), self._P(dst), opts)

    # -- bytes -------------------------------------------------------------

    def read_bytes(self, p: str) -> bytes:
        stream = self._fs.open(self._P(p))
        try:
            return bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()

    def open_read(self, p: str) -> "_HadoopReader":
        jp = self._P(p)
        return _HadoopReader(
            self._jvm, self._fs.open(jp), int(self._fs.getFileStatus(jp).getLen())
        )

    def write_bytes(self, p: str, data: bytes) -> None:
        out = self._fs.create(self._P(p), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def walk_parquet(self, d: str) -> list[str]:
        jp = self._P(d)
        if not self._fs.exists(jp):
            return []
        out = []
        it = self._fs.listFiles(jp, True)
        while it.hasNext():
            s = it.next().getPath().toString()
            if s.endswith(".parquet"):
                out.append(s)
        return sorted(out)


class _HadoopReader(io.RawIOBase):
    """A Hadoop ``FSDataInputStream`` as a seekable Python binary file.

    Each ``read`` has the JVM copy exactly the bytes asked for (clamped
    at end of file) into a driver-local spill file that Python then
    reads: py4j marshals a returned byte array at ~10 MB/s (29 ms for
    the 64 KB tail pyarrow reads to find a parquet footer), while the
    spill file moves it at page-cache speed in three py4j calls."""

    def __init__(self, jvm, stream, size: int):
        self._stream = stream
        self._size = size
        self._pos = 0
        self._out = jvm.java.io.FileOutputStream
        self._copy = jvm.org.apache.commons.io.IOUtils.copyLarge
        fd, self._spill = tempfile.mkstemp(suffix=".hadoop-read")
        os.close(fd)

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def tell(self) -> int:
        return self._pos

    def seek(self, offset: int, whence: int = io.SEEK_SET) -> int:
        # whence is SEEK_SET (0), SEEK_CUR (1) or SEEK_END (2)
        self._pos = offset + (0, self._pos, self._size)[whence]
        return self._pos

    def read(self, n: int = -1) -> bytes:
        left = max(0, self._size - self._pos)
        n = left if n is None or n < 0 else min(n, left)
        if not n:
            return b""
        out = self._out(self._spill)
        try:
            self._stream.seek(self._pos)
            self._copy(self._stream, out, 0, n)
        finally:
            out.close()
        with open(self._spill, "rb") as f:
            data = f.read()
        self._pos += len(data)
        return data

    def close(self) -> None:
        if not self.closed:
            self._stream.close()
            os.remove(self._spill)
        super().close()
