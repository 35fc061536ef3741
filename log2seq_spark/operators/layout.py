"""Physical data-layout management for parquet sinks: Z-order
(interleaved-bit) clustered writes for multi-column data skipping, and
crash-safe bin-packing compaction of undersized files.

Why this is a first-class operator at 10^12 turns: parquet pruning is
only as good as the min/max envelopes each file exposes. A sink sorted
on ONE key skips perfectly on that key and not at all on any other; a
sink written straight off a hash shuffle skips on nothing. Z-ordering
bucketizes k cluster keys to equi-DEPTH bucket ids (so skew cannot
collapse the curve), interleaves their bits into a single space-filling
key, and range-partitions + sorts the write on it — every file then
covers a small hyper-rectangle of the key space and point/range filters
on ANY clustered column prune most files from the scan. All of it is
built-in expressions (approx quantile boundaries driver-side, JVM
binary-search bucketing, bitwise interleave in codegen); no Python
touches a row.

Compaction exists because APPENDING sinks accrete small files:
externally-fed directories arrive however the upstream sharded them; at 100 TB the file COUNT (listing, footer
reads, task scheduling) becomes the bottleneck before the bytes do.
The batch pipeline does NOT need this — its fan-out write repartitions
on the partition keys, so each (sink, bucket) dir gets exactly one file
per run by construction (plans/pipeline.py) — which is why compaction
is a standalone maintenance pass (CLI ``compact``), not a pipeline
post-step. ``compact_dir`` bin-packs only the undersized
files of each leaf directory into ~target-size rewrites and leaves
healthy files untouched — the same shape as a table service's OPTIMIZE
(Iceberg rewrite_data_files), expressed over plain directories. The
swap protocol is a resumable manifest (write staging → record manifest
→ adopt staged files → delete originals → drop manifest), so a crash
anywhere leaves either the originals or a finishable manifest, never a
silent loss; ``resume_compaction`` completes an interrupted swap.
"""

from __future__ import annotations

import json
import math
import uuid
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio

_Z = "__zorder_key"

_NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double",
            "date", "timestamp", "timestamp_ntz"}


def _as_double(col: str, dtype: str):
    # null keys sort with the minimum (bucket 0) so every row gets a
    # real Z-value — Bucketizer's invalid-bucket id is 2**bits and
    # would otherwise bleed past the column's bit budget
    v = (F.col(col).cast("timestamp").cast("double")
         if dtype == "date" else F.col(col).cast("double"))
    return F.coalesce(v, F.lit(float("-inf")))


def with_zorder(df: DataFrame, cols: Sequence[str], bits: int = 10,
                out_col: str = _Z,
                rel_error: float = 0.001) -> DataFrame:
    """Add ``out_col``: the Z-value (Morton code) of ``cols``.

    Each column is bucketized to ``2**bits`` equi-depth buckets using
    approxQuantile boundaries (driver-side: (2**bits - 1) doubles per
    column — tiny), then the bucket ids' bits are interleaved
    column-major: bit ``i`` of column ``j`` lands at position
    ``i*k + j``. Equi-depth (not equi-width) bucketing is what keeps
    the curve balanced under skew: a hot key range still spreads over
    many buckets.

    Numeric / date / timestamp columns only: Z-ordering needs a total
    order with meaningful distance, which strings only have per-prefix;
    hash-bucketing a string column here would silently destroy range
    locality, so it raises instead.
    """
    k = len(cols)
    if k < 1:
        raise ValueError("with_zorder needs at least one column")
    if bits * k > 62:
        raise ValueError(
            f"bits*len(cols) = {bits * k} exceeds the 62 usable bits of "
            f"a bigint Z-value; lower bits= (got {bits}) or cluster on "
            f"fewer columns (got {k})")
    dtypes = dict(df.dtypes)
    for c in cols:
        if c not in dtypes:
            raise ValueError(f"with_zorder: no column {c!r} in frame")
        if dtypes[c] not in _NUMERIC:
            raise ValueError(
                f"with_zorder: column {c!r} has type {dtypes[c]!r}; "
                "Z-order clustering is defined for numeric/date/"
                "timestamp keys (string keys have no usable distance — "
                "sort or bucket them explicitly instead)")

    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]
    doubled = df.select(*[_as_double(c, dtypes[c]).alias(c) for c in cols])
    # one pass over the cluster keys; boundaries are a literal in the
    # plan afterwards (no join, no second scan of the full frame)
    all_splits = doubled.approxQuantile(list(cols), qs, rel_error)

    from pyspark.ml.feature import Bucketizer
    staged = df
    tmp_in, tmp_out = [], []
    buckets_per_col = []
    for c, splits in zip(cols, all_splits):
        # approxQuantile returns duplicate cut points on low-cardinality
        # columns (and the -inf null sentinel when nulls are frequent);
        # Bucketizer requires strictly increasing FINITE interior
        # splits. Fewer distinct boundaries just means fewer effective
        # buckets — the bucket ids still fit in `bits` bits.
        import math
        uniq = sorted({s for s in splits if math.isfinite(s)})
        edges = [float("-inf")] + uniq + [float("inf")]
        ic, oc = f"__zin_{c}", f"__zbk_{c}"
        staged = staged.withColumn(ic, _as_double(c, dtypes[c]))
        staged = Bucketizer(splits=edges, inputCol=ic, outputCol=oc,
                            handleInvalid="keep").transform(staged)
        tmp_in.append(ic)
        tmp_out.append(oc)
        buckets_per_col.append(len(edges) - 1)

    z = F.lit(0).cast("bigint")
    for j, oc in enumerate(tmp_out):
        b = F.col(oc).cast("bigint")
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)),
                            i * k + j))
    return (staged.withColumn(out_col, z)
                  .drop(*tmp_in, *tmp_out))


def zorder_write(df: DataFrame, path: str, cols: Sequence[str],
                 bits: int = 10, n_files: Optional[int] = None,
                 mode: str = "overwrite") -> None:
    """Write ``df`` to ``path`` clustered on the Z-value of ``cols``:
    range-repartition into ``n_files`` Z-contiguous slices (Spark
    samples split points, so slices are balanced) and sort each slice,
    giving every output file a tight min/max envelope on EVERY
    clustered column. One extra shuffle versus a plain write — paid
    once at write time, repaid on every subsequent filtered scan."""
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    zdf = with_zorder(df, cols, bits=bits)
    (zdf.repartitionByRange(n, F.col(_Z))
        .sortWithinPartitions(_Z)
        .drop(_Z)
        .write.mode(mode).parquet(path))


def file_range_stats(spark: SparkSession, path: str,
                     cols: Sequence[str]) -> DataFrame:
    """Per-file min/max envelope of ``cols`` (+ row count) for the
    parquet files under ``path`` — the exact information a pruning scan
    works from, computed distributedly (groupBy input_file_name), never
    by listing footers on the driver."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return (spark.read.parquet(path)
            .select(F.input_file_name().alias("file"), *cols)
            .groupBy("file").agg(*aggs))


def skipping_effectiveness(spark: SparkSession, path: str,
                           cols: Sequence[str]) -> Dict[str, float]:
    """For each column: the mean per-file envelope width, normalized by
    the global value range — i.e. the expected fraction of files a
    uniformly-placed point filter on that column must scan. 1.0 means
    the layout skips nothing on that column; a Z-ordered layout drives
    it toward (files)^(-1/k) on every clustered column at once."""
    stats = file_range_stats(spark, path, cols).collect()
    out: Dict[str, float] = {"n_files": float(len(stats))}
    for c in cols:
        lo = min(float(r[f"min_{c}"]) for r in stats)
        hi = max(float(r[f"max_{c}"]) for r in stats)
        span = (hi - lo) or 1.0
        widths = [(float(r[f"max_{c}"]) - float(r[f"min_{c}"])) / span
                  for r in stats]
        out[c] = sum(widths) / len(widths)
    return out


# ---------------------------------------------------------------------------
# bin-packing compaction


_MANIFEST = "_COMPACT_MANIFEST.json"


def _data_files(spark, dir_path: str) -> List[dict]:
    fs, jdir, _ = fsio.hadoop_fs(spark, dir_path)
    if not fs.exists(jdir):
        return []
    out = []
    for st in fs.listStatus(jdir):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            out.append({"name": name, "bytes": int(st.getLen())})
    return out


def plan_compaction(spark: SparkSession, dir_path: str,
                    target_bytes: int,
                    small_ratio: float = 0.5) -> dict:
    """Decide what to rewrite in one leaf directory: files smaller than
    ``small_ratio * target_bytes`` are compaction candidates; they are
    first-fit binned into ~``target_bytes`` groups. Healthy files are
    never rewritten (write amplification is the cost that kills naive
    'rewrite everything' compaction at scale). Driver-side work is one
    directory listing — metadata only."""
    files = _data_files(spark, dir_path)
    small = [f for f in files
             if f["bytes"] < max(1, int(target_bytes * small_ratio))]
    small.sort(key=lambda f: -f["bytes"])
    bins: List[List[dict]] = []
    bin_bytes: List[int] = []
    for f in small:
        for i, used in enumerate(bin_bytes):
            if used + f["bytes"] <= target_bytes:
                bins[i].append(f)
                bin_bytes[i] += f["bytes"]
                break
        else:
            bins.append([f])
            bin_bytes.append(f["bytes"])
    # a bin of one file is a rename with no benefit — leave it alone
    bins = [b for b in bins if len(b) > 1]
    return {
        "dir": dir_path,
        "n_files": len(files),
        "n_small": len(small),
        "rewrite": [f["name"] for b in bins for f in b],
        "n_bins": len(bins),
        "bytes": sum(f["bytes"] for b in bins for f in b),
    }


def compact_dir(spark: SparkSession, dir_path: str, target_bytes: int,
                small_ratio: float = 0.5) -> dict:
    """Bin-pack the undersized parquet files of one leaf directory into
    ~``target_bytes`` files, via a resumable swap:

    1. rewrite the candidate files into ``<dir>/.compact-<id>`` with
       one output file per bin (repartition(n_bins));
    2. persist ``_COMPACT_MANIFEST.json`` naming originals + staging;
    3. adopt: rename staged files into the directory;
    4. delete the originals;
    5. drop the manifest.

    A crash before (2) leaves the originals untouched (staging is
    invisible to readers — dot-prefixed). A crash after (2) is finished
    by ``resume_compaction`` — both adopt and delete are idempotent.
    The window where adopted files and not-yet-deleted originals
    coexist is why table formats own compaction in their commit log;
    over plain directories, run this when the directory has no
    concurrent reader (e.g. between pipeline runs or IVF appends).

    Returns the executed plan (+ ``"skipped": True`` when there was
    nothing worth rewriting)."""
    plan = plan_compaction(spark, dir_path, target_bytes, small_ratio)
    if not plan["rewrite"]:
        plan["skipped"] = True
        return plan
    cid = uuid.uuid4().hex[:12]
    staging = f"{dir_path}/.compact-{cid}"
    srcs = [f"{dir_path}/{n}" for n in plan["rewrite"]]
    (spark.read.parquet(*srcs)
          .repartition(plan["n_bins"])
          .write.mode("overwrite").parquet(staging))
    staged = [f["name"] for f in _data_files(spark, staging)]
    manifest = {"id": cid, "staging": staging, "staged": staged,
                "originals": plan["rewrite"]}
    fsio.write_text(spark, f"{dir_path}/{_MANIFEST}",
                    json.dumps(manifest, indent=1))
    _finish_swap(spark, dir_path, manifest)
    plan["skipped"] = False
    plan["compacted_files"] = len(staged)
    return plan


def _finish_swap(spark: SparkSession, dir_path: str,
                 manifest: dict) -> None:
    fs, _, jvm = fsio.hadoop_fs(spark, dir_path)
    HPath = jvm.org.apache.hadoop.fs.Path
    cid = manifest["id"]
    prefix = manifest.get("prefix", "compacted")
    for name in manifest["staged"]:
        src = HPath(f"{manifest['staging']}/{name}")
        dst = HPath(f"{dir_path}/{prefix}-{cid}-{name}")
        if fs.exists(src) and not fs.exists(dst):
            fs.rename(src, dst)
    for name in manifest["originals"]:
        fs.delete(HPath(f"{dir_path}/{name}"), False)
    fs.delete(HPath(manifest["staging"]), True)
    fs.delete(HPath(f"{dir_path}/{_MANIFEST}"), False)


def resume_compaction(spark: SparkSession, dir_path: str) -> bool:
    """Finish an interrupted ``compact_dir`` swap (idempotent: adopt
    whatever staged files remain, delete whatever originals remain).
    True when a manifest was found and completed."""
    text = fsio.read_text(spark, f"{dir_path}/{_MANIFEST}")
    if text is None:
        return False
    _finish_swap(spark, dir_path, json.loads(text))
    return True


def expire_partitions(spark: SparkSession, root: str,
                      partition_col: str, keep: int,
                      apply: bool = False) -> List[dict]:
    """Retention enforcement for a value-partitioned sink: keep the
    ``keep`` NEWEST first-level ``<partition_col>=<value>`` directories
    (ordered by the partition value string — zero-padded dates/hours
    sort correctly; mixed-width numeric values do not, use fixed-width
    encodings), mark the rest expired. Metadata-only on the driver: one
    directory listing, one delete per expired partition — no Spark job,
    no data read.

    DRY-RUN BY DEFAULT: returns the per-partition report
    (partition, value, n_files, bytes, expired, deleted) and deletes
    nothing until ``apply=True`` — retention is the one maintenance
    pass where a bad glob eats a petabyte, so the decision and the
    action are separate calls you can log between. Directories not
    matching ``<partition_col>=`` (other columns, control files) are
    never touched."""
    fs, jroot, _ = fsio.hadoop_fs(spark, root)
    if not fs.exists(jroot):
        return []
    prefix = f"{partition_col}="
    parts = []
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            summ = fs.getContentSummary(st.getPath())
            parts.append({"partition": name,
                          "value": name[len(prefix):],
                          "n_files": int(summ.getFileCount()),
                          "bytes": int(summ.getLength()),
                          "path": st.getPath()})
    parts.sort(key=lambda p: p["value"])
    cut = max(0, len(parts) - keep)
    out = []
    for i, p in enumerate(parts):
        expired = i < cut
        deleted = False
        if expired and apply:
            fs.delete(p["path"], True)
            deleted = True
        rec = {k: p[k] for k in ("partition", "value", "n_files",
                                 "bytes")}
        rec["expired"] = expired
        rec["deleted"] = deleted
        out.append(rec)
    return out


def leaf_dirs(spark: SparkSession, root: str) -> List[str]:
    """Leaf data directories of a (possibly partitioned) sink: every
    directory under ``root`` that holds at least one data file or has
    no subdirectories. This is the directory set ``compact_tree``
    rewrites — exposed separately so dry-run planning (CLI
    ``compact --dry-run``) walks the exact same leaves as the real
    run instead of planning only the root."""
    fs, jroot, _ = fsio.hadoop_fs(spark, root)
    if not fs.exists(jroot):
        return []
    leaves: List[str] = []

    def walk(jdir):
        kids = fs.listStatus(jdir)
        subdirs = [st for st in kids if st.isDirectory()
                   and not st.getPath().getName().startswith(".")]
        has_file = any(st.isFile() and
                       not st.getPath().getName().startswith(("_", "."))
                       for st in kids)
        if has_file or not subdirs:
            leaves.append(jdir.toString())
        for st in subdirs:
            walk(st.getPath())

    walk(jroot)
    return leaves


def compact_tree(spark: SparkSession, root: str, target_bytes: int,
                 small_ratio: float = 0.5) -> List[dict]:
    """Compact every leaf directory under ``root`` (a partitioned sink
    like ``out/sink=.../bucket=...``): finish any interrupted swap
    first, then bin-pack each leaf. The per-leaf rewrites are
    independent Spark jobs over only the undersized bytes — at sink
    scale the total rewritten volume is bounded by the small-file mass,
    not the table size."""
    leaves = leaf_dirs(spark, root)
    out = []
    for leaf in leaves:
        resume_compaction(spark, leaf)
        out.append(compact_dir(spark, leaf, target_bytes, small_ratio))
    return out


# ---------------------------------------------------------------------------
# Copy-on-write row maintenance: redaction DELETE and keyed MERGE/upsert.
#
# Training corpora are not append-only in practice: takedown / redaction
# requests ("remove every document with these ids") and correction
# passes ("re-score / re-scrub these documents") arrive AFTER a sink was
# written. Rewriting the whole sink for a thousand keys is absurd at
# 100 TB; these operators rewrite ONLY the files that contain affected
# keys — the same copy-on-write shape as Iceberg's DELETE/MERGE — found
# with one column-pruned scan of the key column + file-path metadata.
# They reuse compaction's resumable swap manifest (staging → manifest →
# adopt → delete originals), so a crash mid-swap is finished by
# resume_compaction / compact_tree, never a silent loss. Like
# compaction, run against a directory with no concurrent reader.
# ---------------------------------------------------------------------------


def affected_files(spark: SparkSession, dir_path: str,
                   keys: DataFrame, key_col: str) -> List[str]:
    """Names of the data files in leaf directory ``dir_path`` holding at
    least one row whose ``key_col`` appears in ``keys``. One scan that
    parquet prunes to the key column, a broadcast semi-join against the
    (small) key list, and a distinct over file paths — the result is
    bounded by the file count, never the row count."""
    if not _data_files(spark, dir_path):
        return []
    hits = (spark.read.parquet(dir_path)
                 .select(F.col(key_col),
                         F.col("_metadata.file_path").alias("_f"))
                 .join(F.broadcast(keys.select(key_col).distinct()),
                       key_col, "semi")
                 .select("_f").distinct().collect())
    return sorted({r["_f"].rsplit("/", 1)[-1] for r in hits})


def _swap_rewrite(spark: SparkSession, dir_path: str, new_rows: DataFrame,
                  originals: List[str], n_out: int, prefix: str) -> List[str]:
    """Stage ``new_rows`` as ``n_out`` files, then run the manifest swap
    that adopts them and deletes ``originals``. Returns staged names."""
    cid = uuid.uuid4().hex[:12]
    staging = f"{dir_path}/.{prefix}-{cid}"
    new_rows.repartition(max(1, n_out)).write.mode(
        "overwrite").parquet(staging)
    staged = [f["name"] for f in _data_files(spark, staging)]
    manifest = {"id": cid, "staging": staging, "staged": staged,
                "originals": originals, "prefix": prefix}
    fsio.write_text(spark, f"{dir_path}/{_MANIFEST}",
                    json.dumps(manifest, indent=1))
    _finish_swap(spark, dir_path, manifest)
    return staged


def delete_rows(spark: SparkSession, dir_path: str,
                keys: DataFrame, key_col: str) -> dict:
    """Copy-on-write DELETE: remove every row of the leaf directory
    ``dir_path`` whose ``key_col`` appears in ``keys``, rewriting only
    the affected files (surviving rows are anti-joined against the
    broadcast key list and staged; untouched files are never read
    again). Crash-safe via the compaction swap manifest. Returns
    ``{"affected_files", "n_deleted", "skipped"}``."""
    hit_names = affected_files(spark, dir_path, keys, key_col)
    if not hit_names:
        return {"dir": dir_path, "affected_files": 0, "n_deleted": 0,
                "skipped": True}
    srcs = [f"{dir_path}/{n}" for n in hit_names]
    affected = spark.read.parquet(*srcs)
    klist = F.broadcast(keys.select(key_col).distinct())
    survivors = affected.join(klist, key_col, "anti")
    n_before = affected.count()
    n_after = survivors.count()
    _swap_rewrite(spark, dir_path, survivors, hit_names,
                  n_out=len(hit_names), prefix="redacted")
    return {"dir": dir_path, "affected_files": len(hit_names),
            "n_deleted": n_before - n_after, "skipped": False}


def merge_upsert(spark: SparkSession, dir_path: str,
                 updates: DataFrame, key_col: str) -> dict:
    """Copy-on-write MERGE keyed on ``key_col``: rows of ``updates``
    whose key exists in the directory REPLACE the stored rows; the rest
    are inserted. Only files containing a matched key are rewritten
    (their surviving rows + ALL updates are staged together); an
    all-insert merge touches no existing file. ``updates`` must be
    key-unique — a duplicate key would make "which row wins" an
    accident of file order, so it raises instead. Crash-safe via the
    compaction swap manifest. Returns
    ``{"affected_files", "n_updated", "n_inserted", "skipped"}``."""
    dup = (updates.groupBy(key_col).count()
                  .where(F.col("count") > 1).limit(1).count())
    if dup:
        raise ValueError(f"updates carry duplicate {key_col} keys; "
                         "deduplicate (last-write-wins is not implied)")
    hit_names = affected_files(spark, dir_path, updates, key_col)
    klist = F.broadcast(updates.select(key_col).distinct())
    if hit_names:
        srcs = [f"{dir_path}/{n}" for n in hit_names]
        affected = spark.read.parquet(*srcs)
        survivors = affected.join(klist, key_col, "anti")
        n_updated = affected.count() - survivors.count()
        new_rows = survivors.unionByName(updates)
    else:
        n_updated = 0
        new_rows = updates
    n_out = max(1, len(hit_names))
    _swap_rewrite(spark, dir_path, new_rows, hit_names, n_out=n_out,
                  prefix="merged")
    return {"dir": dir_path, "affected_files": len(hit_names),
            "n_updated": n_updated,
            "n_inserted": updates.count() - n_updated, "skipped": False}
