"""Scheme-aware filesystem helper for driver-side metadata I/O.

The runner's audit log, the incremental sketch store, and the LSH
corpus sidecar all write SMALL driver-side files (a few KB of parquet /
json / _SUCCESS markers) next to big Spark-written datasets. Spark's
own writers are scheme-aware (s3a://, hdfs://, file://) because they go
through Hadoop's FileSystem API — but ``pathlib`` is not, so a
driver-side ``Path("s3a://...")`` silently becomes a bogus local path
and the advertised ``--table s3://... --audit s3://...`` deployment
shape breaks.

``DriverFS`` routes those driver-side reads/writes through the SAME
Hadoop FileSystem the executors use (via the py4j gateway —
``spark._jvm.org.apache.hadoop.fs.FileSystem``), so any scheme the
cluster can write, the metadata commits can too. When no JVM gateway is
reachable (Spark Connect client), it falls back to pathlib and raises
loudly for non-local schemes instead of mangling them.

Every call is a handful of py4j round trips (a few ms each on a busy
driver), so the facade keeps them few: an instance resolves the Hadoop
``Path`` class and configuration once, ``list_dirs`` reads directory
flags from the same ``listStatus`` call, and ``write_bytes`` relies on
``create`` making parent directories instead of a separate ``mkdirs``.
"""

from __future__ import annotations

from pathlib import Path
from typing import Optional

_REMOTE_SCHEMES = ("s3://", "s3a://", "s3n://", "hdfs://", "abfss://", "gs://", "wasbs://")


def _is_remote(path: str) -> bool:
    return path.startswith(_REMOTE_SCHEMES)


class DriverFS:
    """Minimal FS facade: exists / listdir / list_dirs / mkdirs / delete /
    read_bytes / write_bytes / touch, resolved through Hadoop's
    FileSystem when a JVM is attached (classic driver), pathlib
    otherwise (Spark Connect local paths only).

    An instance looks up the Hadoop ``Path`` class and the session's
    Hadoop configuration once: walking ``jvm.org.apache.hadoop.fs.Path``
    is a chain of py4j reflection round trips, which cost more than the
    metadata call itself when paid per call. Hold one instance per
    long-lived owner (the runner's table and audit log each do)."""

    def __init__(self, spark):
        self.spark = spark
        self._jvm = getattr(spark, "_jvm", None)
        jsc = getattr(spark, "_jsc", None) if self._jvm is not None else None
        self._path_cls = self._conf = None
        if jsc is not None:
            self._path_cls = self._jvm.org.apache.hadoop.fs.Path
            self._conf = jsc.hadoopConfiguration()

    # ---------------------------------------------------------- routing

    def _hadoop(self, path: str):
        """(FileSystem, Path) pair for this path, or None if no JVM."""
        if self._path_cls is None:
            return None
        jpath = self._path_cls(path)
        return jpath.getFileSystem(self._conf), jpath

    def _local(self, path: str) -> Path:
        if _is_remote(path):
            raise RuntimeError(
                f"no JVM gateway available to reach {path!r}; remote "
                "schemes need a classic (non-Connect) driver session"
            )
        return Path(path.removeprefix("file://").removeprefix("file:"))

    # -------------------------------------------------------- operations

    def exists(self, path: str) -> bool:
        h = self._hadoop(path)
        if h is not None:
            fs, p = h
            return bool(fs.exists(p))
        return self._local(path).exists()

    def listdir(self, path: str) -> list[str]:
        """Child BASENAMES of a directory ([] if it does not exist)."""
        h = self._hadoop(path)
        if h is not None:
            fs, p = h
            if not fs.exists(p):
                return []
            return [st.getPath().getName() for st in fs.listStatus(p)]
        p = self._local(path)
        return [c.name for c in p.iterdir()] if p.exists() else []

    def list_dirs(self, path: str) -> list[str]:
        """Basenames of the child DIRECTORIES of a directory ([] if it
        does not exist): one listing, plain files left out."""
        h = self._hadoop(path)
        if h is not None:
            fs, p = h
            if not fs.exists(p):
                return []
            return [
                st.getPath().getName() for st in fs.listStatus(p) if st.isDirectory()
            ]
        p = self._local(path)
        return [c.name for c in p.iterdir() if c.is_dir()] if p.exists() else []

    def mkdirs(self, path: str) -> None:
        h = self._hadoop(path)
        if h is not None:
            fs, p = h
            fs.mkdirs(p)
            return
        self._local(path).mkdir(parents=True, exist_ok=True)

    def delete(self, path: str, recursive: bool = False) -> None:
        h = self._hadoop(path)
        if h is not None:
            fs, p = h
            if fs.exists(p):
                fs.delete(p, recursive)
            return
        lp = self._local(path)
        if lp.is_file():
            lp.unlink()
        elif lp.is_dir() and recursive:
            import shutil

            shutil.rmtree(lp)

    def rename(self, src: str, dst: str) -> bool:
        """Rename within one filesystem. Atomic on local/HDFS (the
        commit primitive VersionedParquet's manifest writes rely on);
        object stores emulate it with copy+delete — deployments there
        should bind versioning to Iceberg, whose catalog commits
        atomically. Returns False if the filesystem refused (e.g. dst
        exists on HDFS)."""
        h = self._hadoop(src)
        if h is not None:
            fs, p = h
            _, d = self._hadoop(dst)
            return bool(fs.rename(p, d))
        import errno
        import os

        s, d = self._local(src), self._local(dst)
        try:
            # link+unlink instead of rename: POSIX rename silently
            # REPLACES an existing dst, but link fails atomically —
            # the claim semantics HDFS rename gives for free
            os.link(s, d)
        except OSError as e:
            if e.errno == errno.EEXIST:
                return False
            # Filesystems without hardlinks (some network/FUSE mounts)
            # raise EPERM/EOPNOTSUPP/EXDEV here — claim dst with an
            # exclusive create instead, then replace the placeholder.
            try:
                fd = os.open(d, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except OSError as e2:
                if e2.errno == errno.EEXIST:
                    return False
                raise
            os.close(fd)
            # The claim at dst succeeded; now move the payload in.
            # os.replace(s, d) itself fails EXDEV for cross-device
            # moves (one of the errnos that put us on this branch), so
            # fall back to staging a copy NEXT TO dst — same
            # filesystem by construction — and replacing from there.
            # Any failure must release the placeholder claim: a
            # zero-byte ghost at dst would make every later rename()
            # return False and hand readers an unparseable manifest.
            import shutil

            tmp = d.with_name(f"{d.name}.{os.getpid()}.rename-tmp")
            try:
                os.replace(s, d)
                return True
            except OSError:
                pass
            try:
                shutil.copy2(s, tmp)
                os.replace(tmp, d)
            except BaseException:
                for leftover in (tmp, d):
                    try:
                        os.unlink(leftover)
                    except OSError:
                        pass
                raise
            try:
                os.unlink(s)
            except OSError:
                pass  # payload committed; a stale src copy is harmless
            return True
        s.unlink()
        return True

    def clear_files(self, path: str) -> None:
        """Delete the plain files directly under a directory (the
        overwrite-idempotent commit protocol: stale files cleared first,
        _SUCCESS written last)."""
        h = self._hadoop(path)
        if h is not None:
            fs, p = h
            if fs.exists(p):
                for st in fs.listStatus(p):
                    if st.isFile():
                        fs.delete(st.getPath(), False)
            return
        lp = self._local(path)
        if lp.exists():
            for f in lp.iterdir():
                if f.is_file():
                    f.unlink()

    def write_bytes(self, path: str, data: bytes) -> None:
        """Create or overwrite a file, making missing parent directories
        (Hadoop's ``create`` does; the pathlib fallback does the same)."""
        h = self._hadoop(path)
        if h is not None:
            fs, p = h
            out = fs.create(p, True)  # overwrite
            try:
                out.write(bytearray(data))
            finally:
                out.close()
            return
        lp = self._local(path)
        lp.parent.mkdir(parents=True, exist_ok=True)
        lp.write_bytes(data)

    def read_bytes(self, path: str) -> bytes:
        h = self._hadoop(path)
        if h is not None:
            fs, p = h
            stream = fs.open(p)
            try:
                # py4j passes bytearrays by VALUE, so Java-side
                # readFully mutations never reach Python — drain the
                # stream on the JVM side instead and ship the byte[]
                return bytes(
                    self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
                )
            finally:
                stream.close()
        return self._local(path).read_bytes()

    def touch(self, path: str) -> None:
        self.write_bytes(path, b"")


def write_parquet_bytes(tbl, **kwargs) -> bytes:
    """Serialize a pyarrow table to parquet bytes (for DriverFS
    writes that must work on any scheme)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sink = pa.BufferOutputStream()
    pq.write_table(tbl, sink, **kwargs)
    return sink.getvalue().to_pybytes()
