"""Per-partition (salt-bucket) checkpoint manifest: lineage + metrics.

The pipeline processes the turns table in ``n_buckets`` hash buckets of
``conv_id``. After a successful run, one record per completed bucket is
committed carrying the lineage id (hash of rule program + input +
bucketing), row/ok/fail counters, and token totals. Resume = read
completed bucket ids for the same lineage and skip them;
partially-written bucket partitions from a crashed run are repaired by
dynamic partition overwrite on the rerun (north rule: "resumable from
checkpoint with per-partition lineage + metrics").

One layout, one I/O path: a run's commit is ONE file
``<out_dir>/manifest/<lineage>-<first bucket:06d>.jsonl`` holding one
JSON line per bucket record, written atomically through the Hadoop
FileSystem API (``fsio.write_text``) for plain and scheme-qualified
out_dirs alike, so the manifest lands where Spark wrote the data. The
commits of one lineage cover disjoint bucket sets (resume skips
committed buckets; a fresh run wipes the manifest), so the first bucket
names a commit uniquely and re-committing it is idempotent.

Calls take the SparkSession (the Hadoop conf lives on it); without
``spark=`` the active session is used.
"""

from __future__ import annotations

import hashlib
import json
import posixpath
from typing import Dict, Iterable, List, Set

from .. import fsio

MANIFEST_DIR = "manifest"

# routed-sink schema version: bumped when the routed parquet layout
# changes (v2: precomputed ok/fail/empty flag columns). Folded into the
# lineage id so a resume against an out_dir written by an older layout
# reprocesses cleanly instead of failing mid-read on missing columns.
SINK_SCHEMA_V = 2


def lineage_id(program, input_id: str, n_buckets: int) -> str:
    payload = f"{program!r}|{input_id}|{n_buckets}|s{SINK_SCHEMA_V}"
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _read_commits(spark, out_dir: str, prefix: str = "") -> List[Dict]:
    """Records of every commit file under ``manifest/`` whose name
    starts with ``prefix``, in file-name order."""
    mdir = posixpath.join(out_dir, MANIFEST_DIR)
    recs: List[Dict] = []
    for name in sorted(fsio.list_child_names(spark, mdir)):
        if name.startswith(prefix) and name.endswith(".jsonl"):
            txt = fsio.read_text(spark, posixpath.join(mdir, name)) or ""
            recs += [json.loads(x) for x in txt.splitlines() if x.strip()]
    return recs


def completed_buckets(out_dir: str, lineage: str,
                      spark=None) -> Set[int]:
    spark = fsio.resolve_spark(spark, out_dir)
    return {int(r["bucket"])
            for r in _read_commits(spark, out_dir, lineage + "-")}


def append_bucket_records(out_dir: str, lineage: str,
                          records: List[Dict], spark=None) -> None:
    if not records:
        return
    spark = fsio.resolve_spark(spark, out_dir)
    first = min(int(r["bucket"]) for r in records)
    body = "".join(json.dumps({**r, "lineage_id": lineage},
                              sort_keys=True) + "\n" for r in records)
    fsio.write_text(spark, posixpath.join(
        out_dir, MANIFEST_DIR, f"{lineage}-{first:06d}.jsonl"), body)


def read_manifest(out_dir: str, spark=None) -> List[Dict]:
    return _read_commits(fsio.resolve_spark(spark, out_dir), out_dir)


def wipe_outputs(out_dir: str, subdirs: Iterable[str],
                 spark=None) -> None:
    """Remove the pipeline's data subdirs AND the manifest — the
    lineage-switch reset (see run_pipeline: keeping another lineage's
    manifest records while deleting its data would make a later run of
    that lineage "resume" against output that no longer exists). An
    out_dir from the older layout also loses its appended
    ``manifest.jsonl``, which no reader looks at any more."""
    spark = fsio.resolve_spark(spark, out_dir)
    for sub in [*subdirs, MANIFEST_DIR, "manifest.jsonl"]:
        fsio.delete(spark, posixpath.join(out_dir, sub))
