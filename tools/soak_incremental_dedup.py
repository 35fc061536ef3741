"""Incremental-dedup soak: per-shard screen cost must stay FLAT while
the corpus grows — the whole point of the index path is that absorbing
shard k costs O(|shard|), not O(|corpus so far|), because history is
only ever touched through its (band-bucket / content-hash) index.

Drives the REAL surface (``python -m log2seq_spark dedup --index-dir``,
in-process so JVM startup doesn't pollute the walls) over K synthetic
shards of N docs each. Each shard plants deterministic cross-shard
exact duplicates (10% of its rows repeat shard 0's content space) plus
fresh content, so every screen exercises both verdict branches while
the index grows by ~0.9·N entries per shard.

Usage: python tools/soak_incremental_dedup.py [n_shards] [docs_per_shard] [mode]
Emits one JSON line: per-shard walls + verdict tallies + index growth.
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
from log2seq_spark.plans.epochs import index_segments  # noqa: E402
from log2seq_spark.session import get_spark  # noqa: E402


def shard_docs(spark, shard: int, n: int):
    """Deterministic shard: doc_id in [shard*n, (shard+1)*n); the last
    10% of each shard >0 repeats shard-0 content (cross-shard dups);
    the rest is unique ~12-word text keyed by doc_id."""
    base = spark.range(shard * n, (shard + 1) * n).withColumnRenamed(
        "id", "doc_id")
    is_dup = (F.col("doc_id") % n >= int(n * 0.9)) & (F.lit(shard) > 0)
    content_key = F.when(is_dup, F.col("doc_id") % n).otherwise(
        F.col("doc_id"))
    words = F.array_join(F.transform(
        F.sequence(F.lit(1), F.lit(12)),
        lambda i: F.concat(F.lit("tok"),
                           F.pmod(content_key * 131 + i * 17,
                                  F.lit(1_000_000_007))
                            .cast("string"))), " ")
    return base.select("doc_id", words.alias("text"))


def run(n_shards: int = 8, per_shard: int = 250_000,
        mode: str = "exact", compact_every: int = 16,
        root: str = "/tmp/incr_soak"):
    spark = get_spark(master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(root, ignore_errors=True)
    idx = f"{root}/index"
    walls, tallies, index_sizes = [], [], []
    for s in range(n_shards):
        src = f"{root}/shard{s}"
        shard_docs(spark, s, per_shard).write.mode("overwrite").parquet(src)
        out = f"{root}/verdicts{s}"
        t0 = time.time()
        rc = main(["dedup", "--mode", mode, "--input", src,
                   "--out", out, "--index-dir", idx,
                   "--compact-every", str(compact_every)])
        walls.append(round(time.time() - t0, 2))
        assert rc == 0
        tally = {r["decision"]: r["count"] for r in
                 spark.read.parquet(out).groupBy("decision").count()
                      .collect()}
        tallies.append(tally)
        segments, _, _ = index_segments(idx, spark)
        index_sizes.append(spark.read.parquet(*segments).count())
        print(f"# shard {s}: {walls[-1]}s {tally} "
              f"index={index_sizes[-1]} ({len(segments)} segments)",
              file=sys.stderr)
    flat = walls[-1] / max(walls[1], 1e-9)  # last vs first post-warmup
    print(json.dumps({
        "mode": mode, "n_shards": n_shards, "docs_per_shard": per_shard,
        "walls_s": walls, "tallies": tallies,
        "index_entries": index_sizes,
        "last_over_first_warm_wall": round(flat, 3)}))
    spark.stop()


if __name__ == "__main__":
    a = sys.argv[1:]
    run(int(a[0]) if a else 8,
        int(a[1]) if len(a) > 1 else 250_000,
        a[2] if len(a) > 2 else "exact",
        int(a[3]) if len(a) > 3 else 16)
