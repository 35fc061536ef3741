"""Incremental-template-mining soak: per-shard mine/screen cost must
stay FLAT while the mined state grows — the epoch-state path folds
shard k for O(|shard| + #groups), never re-mining history, because the
position profile is associatively mergeable (operators/templates.py).

Drives the REAL surfaces in-process: ``templates --state-dir`` (fold)
on even shards and ``rare --state-dir`` (screen + fold, per-line
verdict parquet) on odd shards — the interop the shared state format
exists for. Each shard emits lines from a deterministic slot grammar:
~40 recurring message shapes (growing line counts per shard) plus a
few brand-new singleton shapes per shard, so every screen exercises
the is_new and is_rare branches while the state's group table grows
slowly and its line counts grow linearly.

Usage: python tools/soak_incremental_templates.py [n_shards] [lines_per_shard]
Emits one JSON line: per-shard walls + state group counts + verdicts.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from log2seq_spark.__main__ import main  # noqa: E402
from log2seq_spark.operators.templates import (  # noqa: E402
    templates_from_profiles)
from log2seq_spark.plans.epochs import committed_ids  # noqa: E402
from log2seq_spark.session import get_spark  # noqa: E402


def shard_lines(spark, shard: int, n: int):
    """Deterministic shard: ~40 recurring shapes (slot = id % 40, with
    per-line variable fields so wildcard inference has work to do) plus
    3 never-seen-before singleton shapes per shard."""
    base = spark.range(shard * n, (shard + 1) * n)
    slot = F.pmod("id", F.lit(40))
    var = F.pmod(F.col("id") * 131 + 7, F.lit(99991)).cast("string")
    recurring = F.concat(F.lit("svc"), slot.cast("string"),
                         F.lit(" handled request "), var,
                         F.lit(" in "), F.pmod("id", F.lit(977))
                         .cast("string"), F.lit(" ms"))
    novel = F.concat(F.lit("novel_shape_s"), F.lit(shard).cast("string"),
                     F.lit("_"), F.pmod("id", F.lit(3)).cast("string"),
                     F.lit(" appeared once token"), var)
    text = F.when(F.col("id") % n < 3, novel).otherwise(recurring)
    return base.select(text.alias("text"))


def run(n_shards: int = 8, per_shard: int = 1_000_000,
        root: str = "/tmp/tmpl_soak"):
    spark = get_spark(master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(root, ignore_errors=True)
    st = f"{root}/state"
    walls, groups, verdicts = [], [], []
    for s in range(n_shards):
        src = f"{root}/shard{s}"
        shard_lines(spark, s, per_shard).write.mode("overwrite").parquet(src)
        t0 = time.time()
        if s % 2 == 0:
            rc = main(["templates", "--input", src, "--input-kind",
                       "parquet", "--state-dir", st, "--top", "5"])
            v = None
        else:
            out = f"{root}/verdicts{s}"
            rc = main(["rare", "--input", src, "--input-kind", "parquet",
                       "--state-dir", st, "--out", out])
            v = {r["verdict"]: r["count"] for r in
                 spark.read.parquet(out).groupBy("verdict").count()
                      .collect()}
        walls.append(round(time.time() - t0, 2))
        assert rc == 0
        verdicts.append(v)
        g = templates_from_profiles(spark.read.parquet(
            f"{st}/epoch={committed_ids(st)[-1]}")).count()
        groups.append(g)
        print(f"# shard {s}: {walls[-1]}s templates={g} verdict={v}",
              file=sys.stderr)
    flat = walls[-1] / max(walls[1], 1e-9)
    print(json.dumps({
        "n_shards": n_shards, "lines_per_shard": per_shard,
        "walls_s": walls, "templates": groups, "verdicts": verdicts,
        "last_over_first_warm_wall": round(flat, 3)}))
    spark.stop()


if __name__ == "__main__":
    a = sys.argv[1:]
    run(int(a[0]) if a else 8,
        int(a[1]) if len(a) > 1 else 1_000_000)
