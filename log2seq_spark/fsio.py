"""Scheme-aware driver-side filesystem I/O.

The engine's two driver-side state protocols — the pipeline's
checkpoint manifest (``plans/manifest.py``) and the epoch-versioned
operator state (``plans/epochs.py``) — read, list, write, and delete
small control files next to the Spark-written data.
On a laptop those paths are local disk; on a real cluster they live on
whatever shared filesystem the ``spark-submit`` run writes to (HDFS,
S3, GCS, …), where the driver's ``open``/``os``/``shutil`` cannot
reach. This module routes such paths through the Hadoop FileSystem API
on the driver's JVM — the same connector stack (and the same
authentication) the executors use for the data files, so any path
Spark can write, the control protocols can manage.

A path participates when it carries a URI scheme (``hdfs://``,
``s3a://``, ``file://``, …); plain paths stay on the fast local-FS
code paths in the callers. ``file://`` exercises the Hadoop branch on
local disk, which is how the tests drive it end-to-end.
"""

from __future__ import annotations

import re
from typing import List, Optional

_URI_RE = re.compile(r"^[a-z][a-z0-9+.\-]*://", re.IGNORECASE)


def is_uri_path(path: str) -> bool:
    """True for scheme-qualified paths that must go through the Hadoop
    FileSystem API rather than the driver's local filesystem."""
    return _URI_RE.match(path) is not None


def resolve_spark(spark, path: str):
    """The session whose Hadoop configuration serves ``path``: the one
    passed in, else the active session, else a clear error — URI-path
    state I/O cannot fall back to local ``open``."""
    if spark is not None:
        return spark
    from pyspark.sql import SparkSession
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    raise ValueError(
        f"path {path!r} has a filesystem scheme; pass the SparkSession "
        "(spark=) so I/O can go through the Hadoop FileSystem API")


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


def mkdirs(spark, path: str) -> None:
    fs, jpath, _ = hadoop_fs(spark, path)
    fs.mkdirs(jpath)


def delete(spark, path: str, recursive: bool = True) -> None:
    """Quiet recursive delete (missing path is a no-op, like
    ``shutil.rmtree(..., ignore_errors=True)``)."""
    fs, jpath, _ = hadoop_fs(spark, path)
    fs.delete(jpath, recursive)


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


def write_text(spark, path: str, text: str, overwrite: bool = True) -> None:
    """Create/overwrite ``path`` with ``text`` in one stream write.
    Visibility is whatever the store gives a closed single create —
    atomic on HDFS and on object stores (PUT), torn-write-possible only
    on a crashed local-FS driver, which the callers' protocols already
    tolerate (an unreadable control file is refused loudly, never
    silently adopted)."""
    fs, jpath, _ = hadoop_fs(spark, path)
    out = fs.create(jpath, overwrite)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
