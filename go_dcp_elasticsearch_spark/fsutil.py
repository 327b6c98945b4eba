"""Shared Hadoop FileSystem helpers (one copy of the py4j dance).

All partition-directory surgery in the engine (emptied shards, emptied
mirror buckets, expired changelog snapshots, sink layout guards, the
mirror migration swap) goes through these, so scheme-specific fixes
(S3A, HDFS) land in exactly one place. Local-path semantics are what the
tests exercise; the API is the portable Hadoop one."""

from __future__ import annotations


def hadoop_fs(spark, path: str):
    """(fs, Path) for ``path`` under the session's Hadoop configuration."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p


def exists(spark, path: str) -> bool:
    fs, p = hadoop_fs(spark, path)
    return bool(fs.exists(p))


def delete_dir(spark, path: str) -> bool:
    """Recursive delete; returns whether anything existed."""
    fs, p = hadoop_fs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)
        return True
    return False


def rename(spark, src: str, dst: str) -> bool:
    fs, p = hadoop_fs(spark, src)
    return bool(fs.rename(p, spark._jvm.org.apache.hadoop.fs.Path(dst)))


def create_exclusive(spark, path: str, data: str) -> bool:
    """Atomically create ``path`` with ``data`` iff it does not already
    exist — the Hadoop ``create(overwrite=false)`` contract (atomic on
    HDFS and the local FS; conditional-write on recent S3A). The lock-
    file primitive: exactly one of N concurrent callers wins. Returns
    whether THIS call created the file."""
    fs, p = hadoop_fs(spark, path)
    parent = p.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    try:
        out = fs.create(p, False)
    except Exception:
        return False  # already exists (FileAlreadyExistsException)
    try:
        out.write(bytearray(data.encode("utf-8")))
    finally:
        out.close()
    return True


def file_mtime(spark, path: str) -> float | None:
    """Modification time of ``path`` in epoch seconds, None if absent."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    return float(fs.getFileStatus(p).getModificationTime()) / 1000.0


def write_file(spark, path: str, data: str, overwrite: bool = False) -> None:
    """Create a small metadata file with the given text via the Hadoop FS
    API — works on HDFS/S3A, not only the driver's local disk. Durability:
    hsync() where the filesystem supports it (HDFS), else close() (object
    stores make the object visible atomically on close, which is the same
    commit point). Callers use create-new-file-per-record semantics
    (the Delta/Iceberg metadata pattern) because append() is unsupported
    on S3A and several other Hadoop filesystems."""
    fs, p = hadoop_fs(spark, path)
    parent = p.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    out = fs.create(p, overwrite)
    synced = False
    try:
        out.write(bytearray(data.encode("utf-8")))
        # hsync() SILENTLY degrades to flush() on non-Syncable streams
        # (verified on the local FS: the call succeeds while
        # hasCapability('hsync') is False), so a try/except around it is
        # dead code — gate on the capability instead
        try:
            if bool(out.hasCapability("hsync")):
                out.hsync()
                synced = True
        except Exception:
            pass  # S3A: the object becomes visible atomically on close
    finally:
        out.close()
    if not synced:
        # the checksummed LocalFileSystem does not support hsync, and a
        # record left only in the page cache breaks the write-ordering
        # guarantees callers rely on (e.g. expire_snapshots fsyncs its
        # intent record BEFORE deleting changelog partitions — losing it
        # to a power cut would turn a loud expired-range error into a
        # silently incomplete range read). If the path resolves to a
        # local file, fsync it the OS way.
        try:
            local = fs.pathToFile(p).getAbsolutePath()
        except Exception:
            return  # not a local filesystem; close() was the commit point
        import os

        fd = os.open(local, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)


def read_file(spark, path: str) -> str:
    """Read a small metadata file fully (Hadoop FS API)."""
    fs, p = hadoop_fs(spark, path)
    stream = fs.open(p)
    try:
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return bytes(data).decode("utf-8")
    finally:
        stream.close()


def list_root_files(spark, path: str) -> list[str]:
    """Names of plain FILES directly under ``path`` (no recursion)."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return []
    return [
        st.getPath().getName() for st in fs.listStatus(p) if st.isFile()
    ]


def list_data_files(spark, path: str) -> list[tuple[str, int, int]]:
    """(path, length, mtime) of every data file under ``path``, recursive,
    skipping what Spark's readers skip (any path component starting with
    ``_`` or ``.``: commit markers, checksums, ``_temporary``). One FS
    listing, no Spark job; [] when ``path`` does not exist."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return []
    root = fs.makeQualified(p).toString().rstrip("/") + "/"
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        full = st.getPath().toString()
        rel = full[len(root):] if full.startswith(root) else st.getPath().getName()
        if any(part.startswith(("_", ".")) for part in rel.split("/")):
            continue
        out.append((full, int(st.getLen()), int(st.getModificationTime())))
    return sorted(out)
