"""Hadoop-FileSystem adapter for maintenance-path metadata operations.

The epoch-sink discipline (streaming/idempotent.py) and the table
maintenance jobs need a handful of filesystem operations the DataFrame
API does not expose: drop a partition directory, promote a tmp partition
with an atomic rename, read/write a small commit marker. ``os``/``shutil``
only work when the table lives on the driver's local disk; a cluster
deployment keeps loop state on HDFS/object storage. This adapter routes
those operations through Hadoop's FileSystem API, obtained from the live
SparkContext's Hadoop configuration, which resolves each path's scheme —
scheme-less and ``file:`` paths go to the local filesystem (so local mode
and the unit suite exercise the SAME code path a cluster uses), while
``hdfs://``/``s3a://``/... resolve to the matching connector with the
session's credentials and settings.

Every method is a driver-side metadata call on a maintenance path (one
JVM round-trip each), never a per-row operation; the data itself always
moves through DataFrame reads/writes.

Semantics relied on by callers:

- ``rename`` is atomic on HDFS and on the local filesystem (POSIX
  rename(2)); object stores emulating rename (S3A) make it a copy, which
  is not atomic. The epoch-sink commit protocol therefore does NOT rely
  on rename for its marker: streaming/idempotent.py publishes the marker
  as a single small-object write whose content is self-validating
  (payload + sha256) — a single PUT is atomic on object stores and a
  torn write anywhere fails the checksum. rename-atomicity remains a
  stated dependency only of the snapshot-swap sink (sources/sinks.py),
  which documents it.
- ``delete`` is recursive, a no-op on a missing path, and RAISES when
  the filesystem reports failure on an existing path — a silently
  swallowed failed delete would leave a stale failed-attempt partition
  in place, exactly the replay hazard epoch_write defends against.
- ``write_text`` is a plain overwrite of one small object; atomicity is
  the caller's protocol (content validation, or pair with ``rename`` on
  filesystems where rename is atomic).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def join(path: str, name: str) -> str:
    """URI-safe child join (``os.path.join`` mangles ``scheme://`` paths
    on some platforms and is local-only by intent)."""
    return path.rstrip("/") + "/" + name


class HadoopFS:
    """Thin py4j wrapper over ``org.apache.hadoop.fs.FileSystem`` for one
    base path's filesystem. Construct per maintenance call — the Hadoop
    FileSystem object itself is cached JVM-side per (scheme, authority,
    ugi), so this is cheap."""

    def __init__(self, spark: SparkSession, path: str):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._jpath(path).getFileSystem(self._conf)

    def _jpath(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._jpath(path)))

    def is_dir(self, path: str) -> bool:
        p = self._jpath(path)
        return bool(self._fs.exists(p)) and bool(self._fs.getFileStatus(p).isDirectory())

    def listdir(self, path: str) -> list[str]:
        """Child NAMES (not paths) of a directory; [] for a missing path."""
        p = self._jpath(path)
        if not self._fs.exists(p):
            return []
        return [st.getPath().getName() for st in self._fs.listStatus(p)]

    def delete(self, path: str) -> None:
        """Recursive delete; no-op when the path does not exist; raises
        when the filesystem reports failure on a path that still exists —
        filesystems disagree on HOW they fail (some throw, HDFS-style
        ones return false), and a silent false would leave the stale
        partition the caller believes gone."""
        self._delete(self._jpath(path), path)

    def delete_uri(self, uri: str) -> None:
        """``delete`` for a URL-encoded URI, the form ``_metadata.file_path``
        and ``DataFrame.inputFiles()`` return (``a%20b`` for a directory
        named ``a b``). ``Path(String)`` would take the escapes literally,
        name a file that does not exist and make the delete a silent
        no-op; ``Path(java.net.URI)`` decodes them."""
        self._delete(self._jvm.org.apache.hadoop.fs.Path(self._jvm.java.net.URI(uri)), uri)

    def _delete(self, p, path: str) -> None:
        if not self._fs.delete(p, True) and self._fs.exists(p):
            raise IOError(f"delete failed: {path}")

    def rename(self, src: str, dst: str) -> None:
        """Atomic move (HDFS / local); raises IOError if the filesystem
        refuses — filesystems disagree on HOW they refuse (HDFS returns
        false, the local fs throws), and a silent False would break the
        commit protocols built on this call."""
        from py4j.protocol import Py4JJavaError

        try:
            ok = self._fs.rename(self._jpath(src), self._jpath(dst))
        except Py4JJavaError as e:
            raise IOError(
                f"rename failed: {src} -> {dst}: {e.java_exception.getMessage()}"
            ) from None
        if not ok:
            raise IOError(f"rename failed: {src} -> {dst}")

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._jpath(path))

    def files(self, path: str) -> list[tuple[str, int]]:
        """Recursive ``(name, length)`` listing of the regular files under
        ``path`` — file NAMES only (callers filter metadata by name), one
        listStatus round-trip per directory. [] for a missing path."""
        p = self._jpath(path)
        if not self._fs.exists(p):
            return []
        out: list[tuple[str, int]] = []
        stack = [p]
        while stack:
            for st in self._fs.listStatus(stack.pop()):
                if st.isDirectory():
                    stack.append(st.getPath())
                else:
                    out.append((str(st.getPath().getName()), int(st.getLen())))
        return out

    def read_text(self, path: str) -> str:
        """Small-file read via Hadoop's own IO helper (a slim/shaded
        deployment may not ship third-party jars like commons-io, so the
        adapter stays within the Hadoop + JDK API surface)."""
        stream = self._fs.open(self._jpath(path))
        try:
            sink = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, sink, 4096, False)
            return bytes(sink.toByteArray()).decode("utf-8")
        finally:
            stream.close()

    def write_text(self, path: str, text: str) -> None:
        """Plain overwrite of one small object. Atomicity is the caller's
        protocol: content-validate on read (the epoch commit marker), or
        pair with ``rename`` where rename is atomic."""
        out = self._fs.create(self._jpath(path), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
