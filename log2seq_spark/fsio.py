"""Driver-side filesystem I/O through the Hadoop FileSystem API.

The engine's two driver-side state protocols — the pipeline's
checkpoint manifest (``plans/manifest.py``) and the epoch-versioned
operator state (``plans/epochs.py``) — read, list, write, and delete
small control files next to the Spark-written data. Every such path,
plain or scheme-qualified (``hdfs://``, ``s3a://``, ``file://``, …),
goes through the Hadoop FileSystem API on the driver's JVM: the same
connector stack, authentication and ``fs.defaultFS`` resolution the
executors use for the data files. A plain path therefore names the
same place for the control files as for the data Spark writes beside
them, on a laptop (the local FS) and on a cluster whose default FS is
HDFS or a ``viewfs://`` mount table alike.
"""

from __future__ import annotations

from typing import List, Optional


def resolve_spark(spark, path: str):
    """The session whose Hadoop configuration serves ``path``: the one
    passed in, else the active session, else a clear error — state I/O
    has no driver-local fallback."""
    if spark is not None:
        return spark
    from pyspark.sql import SparkSession
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    raise ValueError(
        f"no active SparkSession for {path!r}: pass spark= so the I/O "
        "can go through the Hadoop FileSystem API")


def hadoop_fs(spark, path: str):
    """→ (FileSystem, Path, jvm) for ``path`` under the session's
    Hadoop configuration."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def exists(spark, path: str) -> bool:
    fs, jpath, _ = hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def delete(spark, path: str) -> None:
    """Quiet recursive delete: a missing path is a no-op."""
    fs, jpath, _ = hadoop_fs(spark, path)
    fs.delete(jpath, True)


def list_child_names(spark, dir_path: str) -> List[str]:
    """Names of the direct children of ``dir_path`` ([] when the
    directory does not exist)."""
    fs, jdir, _ = hadoop_fs(spark, dir_path)
    if not fs.exists(jdir):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jdir)]


def read_text(spark, path: str) -> Optional[str]:
    """File contents as str, or None when the file does not exist."""
    fs, jpath, jvm = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text(spark, path: str, text: str) -> None:
    """Replace ``path`` with ``text`` atomically: write a hidden
    temporary sibling, then rename it over the target. Readers see the
    old contents or the new, never a torn file. ``FileContext.rename``
    with ``OVERWRITE`` does the replace; ``FileSystem.rename`` returns
    False over an existing file instead. On the checksummed local FS
    the file is written without a ``.crc`` sidecar, so a control file
    edited or restored by hand stays readable."""
    from py4j.java_gateway import is_instance_of
    fs, jpath, jvm = hadoop_fs(spark, path)
    hfs = jvm.org.apache.hadoop.fs
    gateway = spark.sparkContext._gateway
    tmp = hfs.Path(jpath.getParent(), f".{jpath.getName()}.tmp")
    raw = fs
    if is_instance_of(gateway, fs, hfs.ChecksumFileSystem):
        raw = fs.getRawFileSystem()
        # the rename keeps a target's sidecar, which would then no
        # longer match the file
        raw.delete(fs.getChecksumFile(jpath), False)
    out = raw.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    opts = gateway.new_array(hfs.Options.Rename, 1)
    opts[0] = hfs.Options.Rename.OVERWRITE
    fc = hfs.FileContext.getFileContext(
        fs.getUri(), spark._jsc.hadoopConfiguration())
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(jpath), opts)
