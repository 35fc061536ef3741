"""Epoch-versioned and log-structured operator state on disk.

Two kinds of CLI state live here, and this module owns every step of
reading and committing them:

* the template profile behind ``templates --state-dir`` /
  ``rare --state-dir``: ``epoch=N`` directories, a ``params.json``
  stamp, pruning (:func:`committed_ids`, :func:`check_params`,
  :func:`prune`);
* the incremental indexes behind ``dedup --index-dir`` and
  ``substr --index-dir``: ``delta/gen=N`` and ``base/gen=N`` segments,
  a ``_params.json`` stamp and one ``_shards/<md5 of the input>`` claim
  per ingested shard (:func:`index_segments`, :class:`IndexShard`).

A state directory ``<dir>/<key>=N`` is one self-contained parquet write
whose ``_SUCCESS`` marker IS the commit: a crashed writer's partial
directory has no marker and stays invisible. A run reads the newest
committed state and writes only the next one, so a rerun after a crash
recomputes from exactly the state the first attempt saw.

Discovery, pruning, stamps and claims run on the driver through the
Hadoop FileSystem API (``fsio``) for plain and scheme-qualified
(``hdfs://``, ``s3a://``, ``file://``, …) paths alike: the same
connector stack and ``fs.defaultFS`` resolution the parquet writes use,
so the driver sees exactly the state Spark committed. Calls take the
SparkSession; without ``spark=`` the active session is used.
"""

from __future__ import annotations

import hashlib
import json
import posixpath
import re

from .. import fsio

# position_profiles output layout (operators/templates.py): the empty
# seed state for epoch 0 and the read-back contract for every epoch
PROFILE_SCHEMA = ("_ntok int, _head string, _pos int, "
                  "_mn string, _mx string, _nl bigint")


def committed_ids(dir_path: str, key: str = "epoch", spark=None) -> list:
    """Sorted ids N of the ``dir_path/<key>=N`` children whose parquet
    commit marker (``_SUCCESS``) exists."""
    spark = fsio.resolve_spark(spark, dir_path)
    pattern = re.compile(rf"{re.escape(key)}=(\d+)")
    out = []
    for name in fsio.list_child_names(spark, dir_path):
        m = pattern.fullmatch(name)
        if m and fsio.exists(spark, posixpath.join(
                dir_path, name, "_SUCCESS")):
            out.append(int(m.group(1)))
    return sorted(out)


def prune(dir_path: str, epoch: int, keep_epochs: int, spark=None) -> None:
    """Drop committed epochs strictly below ``epoch - keep_epochs``
    (clamped to >= 1), so the predecessor ``epoch - 1`` always
    survives: ``keep_epochs=1`` keeps exactly {epoch-1, epoch}."""
    spark = fsio.resolve_spark(spark, dir_path)
    horizon = epoch - max(int(keep_epochs), 1)
    for e in committed_ids(dir_path, spark=spark):
        if e < horizon:
            fsio.delete(spark, posixpath.join(dir_path, f"epoch={e}"))


def check_params(state_dir: str, params: dict, spark=None,
                 stamp: str = "params.json", committed=None) -> None:
    """Guard against silently mixing state built under different
    operator parameters across runs (template profiles mined from a
    text column folded with profiles mined from token arrays, a dedup
    index of content hashes screened as LSH buckets, gram indexes of
    different k): the first run stamps ``<state_dir>/<stamp>``; every
    later run must present the identical dict, else ``ValueError``.

    ``committed`` says whether committed state exists (default: any
    committed ``epoch=N``). The stamp is written atomically
    (``fsio.write_text``: temporary sibling renamed over the target)
    and only ENFORCED once committed state exists — parameters can be
    freely corrected after a failed first run. Once it EXISTS, a
    missing or unreadable stamp is refused rather than restamped:
    stamping the CURRENT run's params would accept exactly the drift
    the guard exists to reject (atomic writes make a torn stamp
    impossible in normal operation, so this state means the file was
    lost, hand-edited, or predates stamping — restore it, or rebuild
    the state dir)."""
    spark = fsio.resolve_spark(spark, state_dir)
    path = posixpath.join(state_dir, stamp)
    txt = fsio.read_text(spark, path)
    seen = None
    if txt is not None:
        try:
            seen = json.loads(txt)
        except ValueError:
            seen = None   # unreadable stamp
    if committed is None:
        committed = bool(committed_ids(state_dir, spark=spark))
    if not committed:
        fsio.write_text(spark, path, json.dumps(params))
    elif seen is None:
        raise ValueError(
            f"{state_dir} has committed state but no {stamp} (missing "
            "or unreadable); refusing to restamp with this run's "
            "parameters — write the parameters it was built with "
            f"(this run's would be {json.dumps(params)}) into {path} by "
            "hand, or rebuild the directory")
    elif seen != params:
        raise ValueError(
            f"{state_dir} was built with {seen}, got {params}: the "
            "parameters are incompatible and matching parameters are "
            "required (or point at a fresh directory)")


def index_segments(index_dir: str, spark=None):
    """Log-structured index state: (live segment paths, live delta
    gens, next gen number). Layout:

    * ``delta/gen=N`` — ONLY the novelty absorbed by ingestion N
      (mutually disjoint by the operators' anti-join construction, so
      their union has unique keys).
    * ``base/gen=J`` — a compaction: the FULL index as of delta J.

    A reader takes the newest committed base plus every committed delta
    with gen > J; deltas ≤ J are superseded whether or not compaction
    got around to deleting them — which is what makes compaction
    crash-safe: the base commits first (atomic ``_SUCCESS``), deletion
    of absorbed segments is best-effort cleanup."""
    spark = fsio.resolve_spark(spark, index_dir)
    bases = committed_ids(f"{index_dir}/base", "gen", spark)
    j = bases[-1] if bases else 0
    deltas = [n for n in committed_ids(f"{index_dir}/delta", "gen", spark)
              if n > j]
    paths = ([f"{index_dir}/base/gen={j}"] if bases else []) + \
            [f"{index_dir}/delta/gen={n}" for n in deltas]
    return paths, deltas, max([j] + deltas) + 1


class IndexShard:
    """One shard's ingestion into an :func:`index_segments` index — the
    protocol ``dedup --index-dir`` and ``substr --index-dir`` share:

    1. construction checks the ``_params.json`` stamp
       (:func:`check_params`, enforced once segments are committed)
       and the shard's claim ``_shards/<md5 of the input path>``;
       either raises ``ValueError`` on refusal (drifted or missing
       stamp, torn claim, claim already folded into a base);
    2. the caller screens the shard against :attr:`screen` — the live
       segments minus the shard's own committed delta — and writes its
       output;
    3. :meth:`commit` writes the claim, commits the delta as
       ``delta/gen=<gen>`` and folds the live segments into a base
       when due; on a replay (:attr:`replay` is the shard's committed
       delta) the caller skips it.

    The claim goes down BEFORE the delta commit, so a committed delta
    is never untracked: a rerun after any crash past the commit
    screens exactly as the first attempt did, instead of matching the
    shard against its own entries (every keeper would be dropped) and
    publishing a second delta. A claim naming an uncommitted gen is a
    crashed pre-publish run and is re-claimed. Single-writer:
    concurrent ingestions would race on the next gen number; readers
    are safe at any time (committed segments are immutable)."""

    def __init__(self, index_dir: str, shard: str, params: dict,
                 spark=None):
        self.spark = fsio.resolve_spark(spark, index_dir)
        self.index_dir = index_dir
        self.segments, self.deltas, self.gen = index_segments(
            index_dir, self.spark)
        check_params(index_dir, params, self.spark, stamp="_params.json",
                     committed=bool(self.segments))
        self._claim = posixpath.join(
            index_dir, "_shards", hashlib.md5(shard.encode()).hexdigest())
        self.replay = self._claimed_delta(shard)
        self.screen = [p for p in self.segments if p != self.replay]

    def _claimed_delta(self, shard: str):
        """The shard's own live delta path, or None when it holds no
        committed delta."""
        claimed = fsio.read_text(self.spark, self._claim)
        if claimed is None:
            return None
        try:
            gen = int(claimed)
        except ValueError:
            raise ValueError(
                f"unreadable shard claim {self._claim!r} (contents "
                f"{claimed!r}) — torn write from a crashed run; inspect "
                "the index before re-ingesting this input") from None
        base = max([0] + [int(p.rsplit("=", 1)[1])
                          for p in self.segments if "/base/" in p])
        if gen <= base:
            raise ValueError(
                f"input {shard!r} was already ingested (gen {gen}) and "
                f"compacted into base gen={base}; screening it against "
                "the folded index would match it against itself")
        own = f"{self.index_dir}/delta/gen={gen}"
        return own if own in self.segments else None

    def commit(self, delta, every: int, fold=lambda df: df):
        """Claim, commit ``delta`` as ``delta/gen=<gen>``, then — once
        more than ``every`` deltas are live (``every`` 0: never) — fold
        every live segment into ``base/gen=<gen>``. Returns (delta rows,
        (base path, base rows) or None)."""
        fsio.write_text(self.spark, self._claim, str(self.gen))
        path = f"{self.index_dir}/delta/gen={self.gen}"
        delta.write.mode("overwrite").parquet(path)
        n_new = self.spark.read.parquet(path).count()
        if not every or len(self.deltas) + 1 <= every:
            return n_new, None
        # LSM compaction: the base commits first (atomic _SUCCESS);
        # every segment it folds in is then dead to every future
        # reader, so deleting them is cleanup, not correctness
        segments = self.segments + [path]
        base = f"{self.index_dir}/base/gen={self.gen}"
        (fold(self.spark.read.parquet(*segments))
            .write.mode("overwrite").parquet(base))
        for p in segments:
            fsio.delete(self.spark, p)
        return n_new, (base, self.spark.read.parquet(base).count())
