"""Epoch-versioned operator state on disk.

Two CLI consumers keep state this way: the template profile behind
``templates --state-dir`` / ``rare --state-dir`` (``epoch=N``
directories) and the incremental indexes behind ``dedup --index-dir``
and ``substr --index-dir`` (``base/gen=N`` and ``delta/gen=N``
segments). A state directory ``<dir>/<key>=N`` is one self-contained
parquet write whose ``_SUCCESS`` marker IS the commit: a crashed
writer's partial directory has no marker and stays invisible. A run reads the newest committed
epoch and writes only the next one, so a rerun after a crash recomputes
from exactly the state the first attempt saw.

Discovery, pruning and stamping run on the driver through the Hadoop
FileSystem API (``fsio``) for plain and scheme-qualified (``hdfs://``,
``s3a://``, ``file://``, …) paths alike: the same connector stack and
``fs.defaultFS`` resolution the parquet writes use, so the driver sees
exactly the epochs Spark committed. Calls take the SparkSession;
without ``spark=`` the active session is used.
"""

from __future__ import annotations

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


def check_params(state_dir: str, params: dict, spark=None) -> None:
    """Guard against silently mixing state built under different
    operator parameters across runs (e.g. template profiles mined from
    a text column folded with profiles mined from pre-tokenized
    arrays): the first epoch stamps ``params.json`` beside the epoch
    dirs; every later run must present the identical dict.

    The stamp is written atomically (``fsio.write_text``: temporary
    sibling renamed over the target) and only ENFORCED once a committed
    epoch exists — parameters can be freely corrected after a failed
    first run (no committed epoch → restamp freely). Once committed
    epochs EXIST, a missing or unreadable stamp is refused rather than
    restamped: silently stamping the CURRENT run's params would accept
    exactly the drift the guard exists to reject (atomic writes make a
    truncated stamp impossible in normal operation, so this state means
    the file was lost or hand-edited — restore it, or rebuild the state
    dir)."""
    spark = fsio.resolve_spark(spark, state_dir)
    path = posixpath.join(state_dir, "params.json")
    txt = fsio.read_text(spark, path)
    seen = None
    if txt is not None:
        try:
            seen = json.loads(txt)
        except ValueError:
            seen = None   # unreadable stamp
    if committed_ids(state_dir, spark=spark):
        _enforce_params(state_dir, seen, params)
        return
    fsio.write_text(spark, path, json.dumps(params))


def _enforce_params(state_dir: str, seen, params: dict) -> None:
    if seen is None:
        raise ValueError(
            f"epoch state at {state_dir} has committed epochs but "
            "no readable params.json stamp; refusing to restamp "
            "with this run's parameters — restore the stamp or "
            "rebuild the state directory")
    if seen != params:
        raise ValueError(
            f"epoch state at {state_dir} was built with {seen}, "
            f"got {params}: matching parameters are required "
            "(or point at a fresh state directory)")
