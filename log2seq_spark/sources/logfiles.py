"""Distributed raw-log-file source via the Python DataSource API
(Spark 4, ``pyspark.sql.datasource``): ``spark.read.format("logtext")``.

The CLI reads tar archives, ``.xz`` files and non-UTF-8 encodings
through this source (``__main__._read_raw_lines``): every
plain/gz/bz2/xz file and every member inside a tar/tgz/tbz2/txz archive
becomes its own input partition, so a directory of rotated+archived
logs decompresses and splits in parallel across executors. Partitions
are planned in path order and, inside an archive, in archive order.
Schema::

    path string, member string, line_no bigint, text string

``line_no`` is 1-based within its (file, member). Lines are decoded
like a text-mode ``open``: universal newlines (``\n``, ``\r\n`` and a
lone ``\r`` all end a line) and undecodable bytes become U+FFFD.
Options:

* ``path`` — one file or glob pattern (a comma is part of the name);
  ``paths`` — a JSON list of them, what ``load([p1, p2])`` passes;
* ``encoding`` — text decoding, default utf-8 (errors replaced);
* ``members`` — comma-separated fnmatch patterns selecting archive
  members (plain files match on basename) at PLANNING time: unmatched
  members are never decompressed. This replaces the removed
  filter-pushdown pruning (see LogTextReader) with a stateless knob.

Planning opens archives ONCE on the driver for the member list (metadata
only — tar headers, no decompression of content); executors then open
just their own member. This mirrors how Spark's own FileScan plans
splits centrally and reads remotely, expressed through the public
Python DataSource API.

Filesystem visibility: partitions open their file with Python's local
file APIs, so on a multi-node cluster ``path`` must be visible at the
same location on every executor (shared mount: NFS, FUSE-mounted object
store, …) — the Python DataSource worker has no JVM, so the Hadoop
connector stack is not reachable here. For data already on HDFS/S3 as
parquet/text, use Spark's native readers; this source exists for the
raw rotated/archived log-file shape those readers cannot split.
"""

from __future__ import annotations

import glob as _glob
import io
import json
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    InputPartition)

# tar archives are checked before the plain .gz/.bz2 suffixes so that
# "x.tar.gz" is read as a tar, not gzip (reference __main__.py:22-33)
_TAR_SUFFIXES = (".tar", ".tar.gz", ".tgz", ".tar.bz2", ".tbz2",
                 ".tar.xz", ".txz")

SCHEMA = "path string, member string, line_no bigint, text string"


@dataclass
class _LogPart(InputPartition):
    path: str
    member: str  # "" for non-archive files
    # positional index into tar.getmembers(): tar -u/--append archives
    # can hold the SAME member name several times, and extractfile(name)
    # resolves to the LAST occurrence — reading by name would emit the
    # newest copy N times and silently drop every earlier copy
    midx: int = -1


def _expand(patterns: list[str]) -> list[str]:
    """Expand the path patterns, failing FAST (at planning, on the
    driver) for paths that match nothing — a typo'd path should not
    surface as a FileNotFoundError from inside an executor task."""
    import os
    out = []
    for p in patterns:
        hits = sorted(_glob.glob(p))
        if not hits:
            kind = "files match pattern" if _glob.has_magic(p) else "such file"
            raise FileNotFoundError(f"logtext: no {kind}: {p!r}")
        for h in hits:
            if not os.path.isfile(h):
                raise FileNotFoundError(f"logtext: not a regular file: {h!r}")
        out.extend(hits)
    return out


def _open_plain(path: str):
    if path.endswith(".bz2"):
        import bz2
        return bz2.open(path, "rb")
    if path.endswith(".gz"):
        import gzip
        return gzip.open(path, "rb")
    if path.endswith(".xz"):
        import lzma
        return lzma.open(path, "rb")
    return open(path, "rb")


class LogTextReader(DataSourceReader):
    """NO ``pushFilters``, deliberately. Earlier versions pruned archive
    members via filter pushdown; removed after a live-reproduced
    correctness bug: Spark plans a Python data source scan once per
    relation and CACHES the planned partitions, ignoring that the pushed
    filters belonged to one consumer — so ``df.filter(member=...)``
    pruned the partitions for EVERY branch sharing ``df`` (a self-union
    returned 120 of 270 rows, and even ``df.filter(...).count()``
    followed by ``df.count()`` returned the pruned count). Pruning by
    mutating ``partitions()`` output is therefore unsafe for any plan
    that reuses the relation; select members STATELESSLY at planning
    time with the ``members`` option instead (same effect, applied
    uniformly to the whole relation, visible in the read options)."""

    def __init__(self, options):
        paths = options.get("paths")
        self._paths = _expand(json.loads(paths) if paths is not None
                              else [options["path"]])
        self._encoding = options.get("encoding", "utf-8")
        m = options.get("members")
        self._members = ([p.strip() for p in m.split(",") if p.strip()]
                         if m else None)

    def _member_match(self, name: str) -> bool:
        """fnmatch the ``members`` option patterns against an archive
        member name, or against a plain file's basename (so one option
        uniformly selects across mixed archive/plain inputs)."""
        if self._members is None:
            return True
        import fnmatch
        return any(fnmatch.fnmatchcase(name, pat) for pat in self._members)

    def partitions(self) -> Sequence[InputPartition]:
        import os

        parts: list[InputPartition] = []
        for fp in self._paths:
            if fp.endswith(_TAR_SUFFIXES):
                import tarfile
                with tarfile.open(fp, "r") as tar:
                    for i, info in enumerate(tar.getmembers()):
                        if info.isfile() and self._member_match(info.name):
                            parts.append(_LogPart(fp, info.name, i))
            elif self._member_match(os.path.basename(fp)):
                parts.append(_LogPart(fp, ""))
        if self._members is not None and not parts:
            raise FileNotFoundError(
                f"logtext: no file or archive member matches "
                f"members={self._members!r} under path={self._paths!r}")
        return parts

    def read(self, part: _LogPart) -> Iterator[tuple]:
        if part is None:
            # partitions() returned [] (empty tar): Spark still
            # schedules one default partition
            return
        if part.member:
            import tarfile
            with tarfile.open(part.path, "r") as tar:
                # extract by POSITION (see _LogPart.midx) — getmembers()
                # order is the archive order, stable across opens
                yield from self._lines(
                    part, tar.extractfile(tar.getmembers()[part.midx]))
        else:
            with _open_plain(part.path) as f:
                yield from self._lines(part, f)

    def _lines(self, part: _LogPart, raw) -> Iterator[tuple]:
        # decode the stream, not each b"\n"-split piece: a multi-byte
        # encoding (UTF-16) has NUL bytes around its newlines, and a
        # lone "\r" ends a line as it does in Hadoop's text reader
        f = io.TextIOWrapper(raw, encoding=self._encoding,
                             errors="replace", newline=None)
        for i, line in enumerate(f, start=1):
            yield (part.path, part.member, i, line.rstrip("\n"))


class LogTextDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "logtext"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> LogTextReader:
        return LogTextReader(self.options)


def register(spark) -> None:
    """Idempotently register the ``logtext`` format on this session."""
    spark.dataSource.register(LogTextDataSource)

