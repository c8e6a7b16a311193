"""Scheme-aware filesystem helper for driver-side metadata I/O.

The runner's audit log, the incremental sketch store, and the LSH
corpus sidecar all write SMALL driver-side files (a few KB of parquet /
json / _SUCCESS markers) next to big Spark-written datasets. Spark's
own writers are scheme-aware (s3a://, hdfs://, file://) because they go
through Hadoop's FileSystem API — but ``pathlib`` is not, so a
driver-side ``Path("s3a://...")`` silently becomes a bogus local path
and the advertised ``--table s3://... --audit s3://...`` deployment
shape breaks.

``DriverFS`` routes each path by one rule (``DriverFS._is_local``):

- a ``file:`` URI, or a bare path while the Hadoop default filesystem
  (``fs.defaultFS``, read once per instance) is ``file:``, is LOCAL and
  goes through the OS (``os`` / ``pathlib``); a relative bare path
  resolves against the JVM's working directory, as Hadoop resolves it;
- everything else (``s3a://``, ``hdfs://``, ``abfss://``, ``gs://``, a
  bare path under a non-file default filesystem) goes through the SAME
  Hadoop FileSystem the executors use, via the py4j gateway.

Local paths skip Hadoop because its ``LocalFileSystem`` is slow for
small files: without the native Hadoop library it starts a ``chmod``
process for every file and directory it creates (a 9 KB audit commit
cost ~20 ms, almost all of it process start-up), and it writes a
``.<name>.crc`` checksum sidecar next to every file. The OS branch
keeps the sidecars' on-disk contract: listings hide them, and writing,
deleting or renaming a file removes its now-stale sidecar (Hadoop
verifies a file against its sidecar on read, so a stale one fails the
read; a missing one is simply not checked). When no JVM gateway is
reachable (Spark Connect client) every path takes the OS branch, and a
non-local scheme raises loudly instead of being mangled.

The Hadoop branch costs a handful of py4j round trips per call, so the
facade keeps them few: an instance resolves the Hadoop ``Path`` class
once (on first use) and reuses the session's Hadoop configuration,
``list_dirs`` reads directory flags from the same ``listStatus`` call,
and ``write_bytes`` relies on ``create`` making parent directories
instead of a separate ``mkdirs``.
"""

from __future__ import annotations

import errno
import os
import shutil
from pathlib import Path


def _split(path: str) -> tuple[str | None, str | None, str]:
    """(scheme, authority, path) the way Hadoop's ``Path(String)`` splits
    a path string: a scheme is text before a colon that comes before
    the first slash; an authority follows ``//``."""
    scheme, rest = None, path
    colon, slash = path.find(":"), path.find("/")
    if colon != -1 and (slash == -1 or colon < slash):
        scheme, rest = path[:colon].lower(), path[colon + 1 :]
    authority = None
    if rest.startswith("//") and len(rest) > 2:
        end = rest.find("/", 2)
        end = len(rest) if end == -1 else end
        authority, rest = rest[2:end], rest[end:]
    return scheme, authority, rest


def _is_crc(name: str) -> bool:
    """A ``ChecksumFileSystem`` sidecar name (``.<file>.crc``)."""
    return name.startswith(".") and name.endswith(".crc")


def _drop_crc(p: Path) -> None:
    """Remove the checksum sidecar of file ``p``, if one exists."""
    p.with_name(f".{p.name}.crc").unlink(missing_ok=True)


def _claim_rename(s: Path, d: Path) -> bool:
    """Move ``s`` to ``d`` unless ``d`` exists (then False)."""
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


class DriverFS:
    """Minimal FS facade: exists / listdir / list_dirs / mkdirs / delete /
    rename / clear_files / read_bytes / write_bytes / touch. Local paths
    go through the OS, every other path through Hadoop's FileSystem
    (the routing rule and why are in the module docstring).

    An instance reads the session's Hadoop configuration and its
    ``fs.defaultFS`` once, so routing a path costs no py4j round trip
    and local I/O costs none at all. The Hadoop ``Path`` class is looked
    up on the first Hadoop-routed call: walking
    ``jvm.org.apache.hadoop.fs.Path`` is a chain of py4j reflection round
    trips, which cost more than the metadata call itself when paid per
    call. Hold one instance per long-lived owner (the runner's table and
    audit log each do)."""

    def __init__(self, spark):
        self.spark = spark
        self._jvm = getattr(spark, "_jvm", None)
        jsc = getattr(spark, "_jsc", None) if self._jvm is not None else None
        self._path_cls = self._conf = self._jvm_cwd = None
        self._default_local = True
        if jsc is not None:
            self._conf = jsc.hadoopConfiguration()
            default = self._conf.get("fs.defaultFS") or "file:///"
            self._default_local = _split(default)[0] == "file"

    # ---------------------------------------------------------- routing

    def _is_local(self, path: str) -> bool:
        """The routing rule: a ``file:`` URI, or a bare path under a
        ``file:`` default filesystem. A ``file://host/...`` URI is left
        to Hadoop."""
        scheme, authority, _ = _split(path)
        if authority:
            return False
        return scheme == "file" if scheme is not None else self._default_local

    def _hadoop(self, path: str):
        """(FileSystem, Path) pair for a path Hadoop serves, or None for a
        local path (or when no JVM is attached)."""
        if self._conf is None or self._is_local(path):
            return None
        if self._path_cls is None:
            self._path_cls = self._jvm.org.apache.hadoop.fs.Path
        jpath = self._path_cls(path)
        return jpath.getFileSystem(self._conf), jpath

    def _local(self, path: str) -> Path:
        """The OS path of a local path. A relative one resolves against
        the JVM's working directory (Hadoop's local working directory),
        or the process's when no JVM is attached."""
        scheme, authority, rest = _split(path)
        if authority or scheme not in (None, "file"):
            raise RuntimeError(
                f"{path!r} is not a local path and no JVM gateway serves "
                "it; remote schemes need a classic (non-Connect) driver "
                "session"
            )
        p = Path(rest)
        if p.is_absolute() or self._jvm is None:
            return p
        if self._jvm_cwd is None:
            self._jvm_cwd = self._jvm.java.lang.System.getProperty("user.dir")
        return Path(self._jvm_cwd) / p

    # -------------------------------------------------------- operations

    def exists(self, path: str) -> bool:
        h = self._hadoop(path)
        if h is not None:
            fs, p = h
            return bool(fs.exists(p))
        return self._local(path).exists()

    def listdir(self, path: str) -> list[str]:
        """Child BASENAMES of a directory ([] if it does not exist),
        checksum sidecars left out."""
        h = self._hadoop(path)
        if h is not None:
            fs, p = h
            if not fs.exists(p):
                return []
            return [st.getPath().getName() for st in fs.listStatus(p)]
        p = self._local(path)
        if not p.exists():
            return []
        return [c.name for c in p.iterdir() if not _is_crc(c.name)]

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
        if not p.exists():
            return []
        return [c.name for c in p.iterdir() if c.is_dir() and not _is_crc(c.name)]

    def mkdirs(self, path: str) -> None:
        h = self._hadoop(path)
        if h is not None:
            fs, p = h
            fs.mkdirs(p)
            return
        self._local(path).mkdir(parents=True, exist_ok=True)

    def delete(self, path: str, recursive: bool = False) -> None:
        """Delete a file (and its checksum sidecar) or a directory; a
        non-empty directory needs ``recursive``, as in Hadoop."""
        h = self._hadoop(path)
        if h is not None:
            fs, p = h
            if fs.exists(p):
                fs.delete(p, recursive)
            return
        lp = self._local(path)
        if lp.is_dir() and recursive:
            shutil.rmtree(lp)
        elif lp.is_dir():
            lp.rmdir()  # raises if not empty, as Hadoop does
        elif lp.exists():
            lp.unlink()
            _drop_crc(lp)

    def rename(self, src: str, dst: str) -> bool:
        """Rename within one filesystem. Atomic on local/HDFS (the
        commit primitive VersionedParquet's manifest writes rely on);
        object stores emulate it with copy+delete — deployments there
        should bind versioning to Iceberg, whose catalog commits
        atomically. Returns False, leaving both paths as they were, if
        ``dst`` exists."""
        h = self._hadoop(src)
        if h is not None:
            fs, p = h
            return bool(fs.rename(p, self._path_cls(dst)))
        s, d = self._local(src), self._local(dst)
        if not _claim_rename(s, d):
            return False
        _drop_crc(s)
        _drop_crc(d)
        return True

    def clear_files(self, path: str) -> None:
        """Delete the plain files directly under a directory, checksum
        sidecars included (the overwrite-idempotent commit protocol:
        stale files cleared first, _SUCCESS written last)."""
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
        (Hadoop's ``create`` does; the OS branch does the same and drops
        the file's stale checksum sidecar)."""
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
        _drop_crc(lp)
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
